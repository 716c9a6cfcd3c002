"""Corpus-quality and sampling operators for training-data pipelines.

Extends the reference's surface (it has no corpus operators;
BASELINE.json lists text-quality scoring among the north-star
LLM-pipeline operators). Three families:

* per-document repetition stats — the cheap Gopher/C4-style repetition
  signals (distinct-token ratio, top-bigram fraction) used to drop
  template/boilerplate documents;
* corpus rollups — per-(lang, source) document/token counts for mixture
  accounting;
* deterministic stratified sampling — per-stratum keep-rates applied as
  a pure filter on an md5-derived bucket of the document id, the way a
  training-mixture build samples each source at its own rate.

Scale shapes:

* ``repetition_stats`` is two hash aggregations keyed on the id column
  (explode → count per gram → per-doc max/sum). Map-side partial
  aggregation absorbs the explode fan-out; nothing wider than
  (id, gram-hash, count) ever shuffles.
* ``corpus_stats`` is one groupBy over low-cardinality keys.
* ``stratified_sample`` shuffles NOTHING: the bucket is computed from
  the id, the rate map becomes a literal CASE over the stratum column,
  and the whole operator is one codegen'd filter — at 100 TB it prunes
  at full scan speed, and the same (id, seed) always lands on the same
  side, so samples are reproducible and composable across runs.

Everything is md5-based (not xxhash64) so the DuckDB oracles reproduce
every value bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from syzgydb_spark.functions.text import word_tokens


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    impl: str = "arrow",
) -> DataFrame:
    """Per-document repetition signals: ``(id, n_tokens,
    distinct_token_ratio, top_bigram_count, n_bigrams,
    top_bigram_frac)``.

    ``distinct_token_ratio`` near 0 and ``top_bigram_frac`` near 1 are
    the classic template/boilerplate tells (Gopher's repetition rules).
    Documents with no tokens (or no bigrams) report 0.0 ratios rather
    than NULL so downstream thresholds don't need null-handling.

    Both impls are zero-shuffle projections over an identical Catalyst
    ``word_tokens`` tokenization (bit-identical outputs, differential-
    tested; the oracle replays the semantics), and both `_spread`
    narrow scans first — that alone was most of this operator's sf1
    headline cost (5.3 → 1.4 s, the scan-parallelism lesson again):

    - ``impl='arrow'`` (default): per-doc counting in an Arrow-batched
      kernel — a further ~1.6× over the interpreted-HOF fold on this
      box (1.4 → 0.8 s at sf1), widening with document length.
    - ``impl='expr'``: the JVM-only conformance twin — the bigram mode
      as a run-length fold over the SORTED per-row bigram array
      (sorting within the row replaces the explode → double-groupBy
      shuffle of the naive plan); prefer it where Python workers are
      unwelcome."""
    from syzgydb_spark.functions.text import ngrams_from_tokens

    if impl == "arrow":
        return _repetition_stats_arrow(df, text_col, id_col)
    if impl != "expr":
        raise ValueError(f"unknown impl {impl!r} (use 'arrow' or 'expr')")

    # NULL text behaves as empty — raw NULLs would propagate into
    # every stat and make `passes`-style filters lose the row on
    # BOTH sides of the predicate. _spread: both impls are compute-
    # bound projections that inherit the scan's split count.
    from syzgydb_spark.operators.dedup import _spread

    toks = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        word_tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("_toks"),
    )

    # run-length fold: prev gram, current run, best run. x == NULL prev
    # is NULL → otherwise branch → run restarts at 1.
    run0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def _merge(acc, x):
        new_run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            new_run.alias("run"),
            F.greatest(acc["best"], new_run).alias("best"),
        )

    top = F.aggregate(
        F.array_sort(ngrams_from_tokens(F.col("_toks"), 2)),
        run0,
        _merge,
        lambda acc: acc["best"],
    )
    nt = F.size("_toks")
    nd = F.size(F.array_distinct("_toks"))
    nb = F.greatest(nt - 1, F.lit(0))
    return toks.select(
        id_col,
        nt.cast("long").alias("n_tokens"),
        F.when(nt > 0, nd.cast("double") / nt).otherwise(F.lit(0.0)).alias(
            "distinct_token_ratio"
        ),
        top.cast("long").alias("top_bigram_count"),
        nb.cast("long").alias("n_bigrams"),
        F.when(nb > 0, top.cast("double") / nb).otherwise(F.lit(0.0)).alias(
            "top_bigram_frac"
        ),
    )


def _repetition_stats_arrow(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Arrow twin of the expr path: tokenization stays Catalyst
    (`word_tokens`, identical bytes), the per-doc counting runs in a
    mapInPandas kernel. Tokens contain no spaces (word_tokens splits
    on non-letter/digit runs), so pair-tuple counting here equals the
    expr path's space-joined bigram mode exactly. Nested closure, no
    module references (executors don't import this package)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from syzgydb_spark.functions.text import word_tokens
    from syzgydb_spark.operators.dedup import _spread

    toks = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        word_tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("_toks"),
    )
    schema = StructType(
        [
            StructField(id_col, toks.schema[id_col].dataType),
            StructField("n_tokens", LongType()),
            StructField("distinct_token_ratio", DoubleType()),
            StructField("top_bigram_count", LongType()),
            StructField("n_bigrams", LongType()),
            StructField("top_bigram_frac", DoubleType()),
        ]
    )

    def gen(batches):
        from collections import Counter

        import pandas as pd

        for pdf in batches:
            nt, ndr, topc, nbi, frac = [], [], [], [], []
            for t in pdf["_toks"]:
                tl = t.tolist() if hasattr(t, "tolist") else list(t)
                n = len(tl)
                nt.append(n)
                ndr.append(len(set(tl)) / n if n else 0.0)
                m = n - 1 if n > 1 else 0
                tp = max(Counter(zip(tl, tl[1:])).values()) if m else 0
                topc.append(tp)
                nbi.append(m)
                frac.append(tp / m if m else 0.0)
            yield pd.DataFrame(
                {
                    schema[0].name: pdf[schema[0].name],
                    "n_tokens": pd.Series(nt, dtype="int64"),
                    "distinct_token_ratio": pd.Series(ndr, dtype="float64"),
                    "top_bigram_count": pd.Series(topc, dtype="int64"),
                    "n_bigrams": pd.Series(nbi, dtype="int64"),
                    "top_bigram_frac": pd.Series(frac, dtype="float64"),
                }
            )

    return toks.mapInPandas(gen, schema=schema)


def duplication_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher repetition rules, part 2 (Rae et al. 2021 §A1.2 — the
    MassiveText "repetitious documents" table): per document the
    duplicate-LINE and duplicate-PARAGRAPH fractions (share of
    occurrences, and of characters, belonging to a line/paragraph
    whose trimmed text appears ≥ 2 times within the document) plus
    the top-n-gram character fractions for n = 2, 3, 4 (characters of
    the single most frequent word n-gram — count × space-joined
    length — over the characters of the space-joined token stream).
    ``repetition_stats`` carries the n=2 COUNT fraction; this
    completes the character-fraction family. The duplicated-n-gram
    span rules (n = 5..10) are the span-surgery operators' domain
    (dedup.duplicate_spans / remove_duplicate_spans) — there the
    copied runs are not just measured but cut.

    Semantics pinned for cross-engine replay (oracle ``dup_stats``):
    lines split on LF and trimmed of [space, tab, CR]; paragraphs
    split on runs of ≥ 2 newlines and trimmed of [space, tab, CR,
    LF]; empty strings drop out of numerator AND denominator; a doc
    with no lines / paragraphs / n-grams reports 0.0 fractions
    (raw doubles here; the contract query rounds to 6 dp, the
    repetition_stats convention).

    One Arrow-batched kernel; no shuffle beyond ``_spread``'s
    parallelism top-up (a no-op on at-scale scans) — tokenization
    stays Catalyst (``word_tokens``, identical bytes to every other
    text operator); the Counter passes are O(doc length) where a pure-HOF
    spelling of within-row duplicate counting is O(len²) per row (the
    char_entropy lesson). At 100 TB this runs at scan speed."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from syzgydb_spark.functions.text import word_tokens
    from syzgydb_spark.operators.dedup import _spread

    src = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        F.coalesce(F.col(text_col), F.lit("")).alias("_text"),
        word_tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("_toks"),
    )
    schema = StructType(
        [StructField(id_col, src.schema[id_col].dataType)]
        + [StructField(n, LongType()) for n in ("n_lines", "n_paras")]
        + [
            StructField(n, DoubleType())
            for n in (
                "dup_line_frac", "dup_line_char_frac",
                "dup_para_frac", "dup_para_char_frac",
                "top_2gram_char_frac", "top_3gram_char_frac",
                "top_4gram_char_frac",
            )
        ]
    )

    def gen(batches):
        import re
        from collections import Counter

        import pandas as pd

        para_re = re.compile("\n{2,}")

        def dup_fracs(units):
            n = len(units)
            chars = sum(len(u) for u in units)
            if not n:
                return 0, 0.0, 0.0
            c = Counter(units)
            dn = sum(v for v in c.values() if v > 1)
            dc = sum(len(k) * v for k, v in c.items() if v > 1)
            return n, dn / n, (dc / chars) if chars else 0.0

        def top_gram_frac(toks, n, denom):
            # Gopher §A1.2: the single MOST FREQUENT n-gram wins (not
            # the max of count×length over all n-grams — a longer but
            # rarer gram must not outrank it). Ties break by longer
            # joined text, then lexicographically greatest joined
            # text — a total order the oracle replays as
            # ORDER BY cnt DESC, length(g) DESC, g DESC LIMIT 1.
            if len(toks) < n or not denom:
                return 0.0
            c = Counter(
                " ".join(g) for g in zip(*(toks[k:] for k in range(n)))
            )
            g, v = max(c.items(), key=lambda kv: (kv[1], len(kv[0]), kv[0]))
            return v * len(g) / denom

        for pdf in batches:
            rows = {f.name: [] for f in schema.fields}
            for rid, text, t in zip(pdf[id_col], pdf["_text"], pdf["_toks"]):
                toks = t.tolist() if hasattr(t, "tolist") else list(t)
                lines = [s for s in
                         (x.strip(" \t\r") for x in text.split("\n")) if s]
                paras = [s for s in
                         (x.strip(" \t\r\n") for x in para_re.split(text)) if s]
                nl, lf, lcf = dup_fracs(lines)
                np_, pf, pcf = dup_fracs(paras)
                denom = len(" ".join(toks))
                rows[id_col].append(rid)
                rows["n_lines"].append(nl)
                rows["n_paras"].append(np_)
                rows["dup_line_frac"].append(lf)
                rows["dup_line_char_frac"].append(lcf)
                rows["dup_para_frac"].append(pf)
                rows["dup_para_char_frac"].append(pcf)
                for n in (2, 3, 4):
                    rows[f"top_{n}gram_char_frac"].append(
                        top_gram_frac(toks, n, denom))
            yield pd.DataFrame({
                f.name: pd.Series(
                    rows[f.name],
                    dtype="int64" if isinstance(f.dataType, LongType)
                    else "float64" if isinstance(f.dataType, DoubleType)
                    else None,
                )
                for f in schema.fields
            })

    return src.mapInPandas(gen, schema=schema)


def corpus_stats(
    df: DataFrame,
    text_col: str = "text",
    *,
    by: list[str] = ("lang", "source"),
    token_count_col: str | None = None,
) -> DataFrame:
    """Mixture accounting: per-stratum document count, token count, and
    character statistics — the numbers a training-mix spec is written
    against. One hash aggregation over low-cardinality keys.

    ``token_count_col`` swaps the default whitespace-word proxy for a
    precomputed per-doc count — e.g. ``wp_tokens_count`` from the
    trained subword tokenizer (operators/tokenizer.py), so mixture
    budgets are written in REAL model tokens."""
    toks = (
        F.col(token_count_col)
        if token_count_col is not None
        else F.size(word_tokens(text_col))
    )
    return (
        df.select(*by, toks.alias("_nt"), F.length(text_col).alias("_nc"))
        .groupBy(*by)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_nt").cast("long").alias("n_tokens"),
            F.sum("_nc").cast("long").alias("n_chars"),
            F.avg("_nt").alias("avg_tokens"),
        )
    )


def sample_bucket(id_col, *, seed: int = 42):
    """Deterministic bucket in [0, 10000) from md5(seed||id) — the
    shared ``md5_long`` fold, mod 10⁴. Engine-portable (Spark, DuckDB,
    and any SQL engine with md5 produce the identical bucket), unlike
    xxhash64/rand(seed), so samples can be reproduced by other systems
    reading the same table."""
    from syzgydb_spark.functions.text import md5_long

    c = id_col if not isinstance(id_col, str) else F.col(id_col)
    return md5_long(F.concat(F.lit(f"s{seed}:"), c.cast("string"))) % 10000


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    *,
    strata_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    seed: int = 42,
) -> DataFrame:
    """Keep each row with its stratum's probability, deterministically:
    row kept ⇔ ``sample_bucket(id) < rate * 10000``. Pure filter — no
    shuffle, no RNG state, stable under retries/re-runs (a Spark
    ``sample()`` is neither deterministic across task retries nor
    reproducible outside Spark). Rates are quantized to 1/10000."""
    bucket = sample_bucket(id_col, seed=seed)
    # round, don't truncate: int(0.57 * 10000) == 5699 under binary
    # floats, which would bias every such rate low by one bucket
    thresh = F.lit(int(round(default_rate * 10000)))
    expr = None
    # None sorts first via the key (a NULL stratum arrives when the
    # corpus has NULL strata values — mixture_plan emits a rate row for
    # it); its condition must be an isNull test, == never matches NULL
    for stratum, rate in sorted(
        rates.items(), key=lambda kv: (kv[0] is not None, str(kv[0]))
    ):
        cond = (
            F.col(strata_col).isNull()
            if stratum is None
            else F.col(strata_col) == stratum
        )
        lit = F.lit(int(round(rate * 10000)))
        expr = F.when(cond, lit) if expr is None else expr.when(cond, lit)
    thresh = expr.otherwise(thresh) if expr is not None else thresh
    return df.where(bucket < thresh)


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_filters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stopwords: int = 2,
) -> DataFrame:
    """The Gopher quality-filter rule set (Rae et al. 2021, §A1.1) as
    ONE projection: per document every rule's measurement plus its
    boolean, and the conjunction ``passes``.

    Rules: word count in [min,max]; mean word length in [min,max];
    '#'/'...' symbols per word ≤ max; ≤ max fraction of lines starting
    with a bullet; ≤ max fraction of lines ending in an ellipsis;
    ≥ min fraction of words containing an alphabetic character; ≥ min
    distinct hits from the canonical 8-stopword list.

    Zero shuffles — pure codegen expressions over (id, text); at
    100 TB this runs at scan speed and composes with
    ``stratified_sample``'s filter pushdown. Emitting the per-rule
    booleans (not just ``passes``) is deliberate: mixture debugging
    needs to know WHICH rule fired, and a downstream groupBy on a rule
    column costs one narrow shuffle only when asked for."""
    # NULL text behaves as empty (rule outcomes stay real booleans
    # — NULL `passes` would vanish from both passes and ~passes)
    t = F.coalesce(F.col(text_col), F.lit(""))
    toks = word_tokens(t)
    n_words = F.size(toks)
    total_len = F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x))
    mean_wl = F.when(n_words == 0, F.lit(0.0)).otherwise(
        total_len.cast("double") / n_words
    )
    # '#' and '...' occurrences per word (non-overlapping, split-count
    # form so the DuckDB oracle matches exactly)
    n_hash = F.size(F.split(t, "#", -1)) - 1
    n_ellipsis = F.size(F.split(t, r"\.\.\.", -1)) - 1
    symbol_ratio = F.when(n_words == 0, F.lit(0.0)).otherwise(
        (n_hash + n_ellipsis).cast("double") / n_words
    )
    lines = F.split(t, "\n", -1)
    n_lines = F.size(lines)
    bullet = F.size(
        F.filter(
            lines,
            lambda l: l.startswith("- ") | l.startswith("* ") | l.startswith("•"),
        )
    )
    ellipsis_end = F.size(
        F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
    )
    bullet_ratio = bullet.cast("double") / n_lines
    ellipsis_ratio = ellipsis_end.cast("double") / n_lines
    alpha_words = F.size(F.filter(toks, lambda x: x.rlike("[a-z]")))
    alpha_ratio = F.when(n_words == 0, F.lit(0.0)).otherwise(
        alpha_words.cast("double") / n_words
    )
    stop_hits = F.size(
        F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]))
    )

    rules = {
        "ok_word_count": (n_words >= min_words) & (n_words <= max_words),
        "ok_mean_word_len": (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len),
        "ok_symbol_ratio": symbol_ratio <= max_symbol_word_ratio,
        "ok_bullet_ratio": bullet_ratio <= max_bullet_ratio,
        "ok_ellipsis_ratio": ellipsis_ratio <= max_ellipsis_ratio,
        "ok_alpha_ratio": alpha_ratio >= min_alpha_word_ratio,
        "ok_stopwords": stop_hits >= min_stopwords,
    }
    passes = None
    for c in rules.values():
        passes = c if passes is None else (passes & c)
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(bullet_ratio, 6).alias("bullet_ratio"),
        F.round(ellipsis_ratio, 6).alias("ellipsis_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        stop_hits.alias("stopword_hits"),
        *[c.alias(name) for name, c in rules.items()],
        passes.alias("passes"),
    )


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_line_words: int = 3,
    min_sentences: int = 3,
) -> DataFrame:
    """The C4 cleaning rules (Raffel et al. 2020, §2.2) as one
    zero-shuffle projection: line-level filtering (keep only lines that
    end in terminal punctuation AND have ≥ ``min_line_words`` words)
    plus the page-level flags (a "lorem ipsum" placeholder, a curly
    brace ≙ code, fewer than ``min_sentences`` sentences after
    cleaning), the cleaned text, and the final ``keep`` conjunction.

    Like ``gopher_filters``, rule outcomes ship individually so a
    mixture build can report WHY pages dropped; the operator itself
    never shuffles."""
    # NULL text behaves as empty (rule outcomes stay real booleans
    # — NULL `passes` would vanish from both passes and ~passes)
    t = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(t, "\n", -1)

    def line_ok(l):
        words = F.filter(F.split(F.trim(l), r"\s+", -1), lambda w: w != "")
        terminal = (
            l.endswith(".") | l.endswith("!") | l.endswith("?") | l.endswith('"')
        )
        return terminal & (F.size(words) >= min_line_words)

    kept = F.filter(lines, line_ok)
    clean = F.array_join(kept, "\n")
    # sentence count ≈ terminal-punctuation runs in the CLEANED text
    n_sentences = F.size(F.split(clean, r"[.!?]+", -1)) - 1
    has_lorem = F.lower(t).contains("lorem ipsum")
    has_brace = t.contains("{")
    rules = {
        "ok_no_lorem": ~has_lorem,
        "ok_no_brace": ~has_brace,
        "ok_min_sentences": n_sentences >= min_sentences,
    }
    keep = None
    for c in rules.values():
        keep = c if keep is None else (keep & c)
    return df.select(
        F.col(id_col),
        clean.alias("clean_text"),
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept_lines"),
        n_sentences.alias("n_sentences"),
        *[c.alias(name) for name, c in rules.items()],
        keep.alias("keep"),
    )


def length_quantiles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    group_by: str | None = "source",
    probs: tuple = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Per-group EXACT word-count quantiles (linear interpolation —
    the same type-7 definition DuckDB's quantile_cont uses, so the
    oracle matches bit-for-bit after rounding) plus min/max/mean.
    Mixture curation reads these to set chunking and packing budgets
    per source.

    Exact percentiles sort within each group — right for per-source
    corpus accounting (groups ≫ rows-per-task). For a single global
    quantile over 100 TB, switch to approx_percentile."""
    n = word_tokens(F.col(text_col))
    keys = [group_by] if group_by else []
    base = df.select(*keys, F.size(n).alias("_nw"))
    aggs = [
        F.round(F.percentile(F.col("_nw"), F.lit(p)), 6).alias(
            f"p{int(p * 100)}"
        )
        for p in probs
    ]
    return (
        base.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("_nw").alias("min_words"),
            F.max("_nw").alias("max_words"),
            F.round(F.avg("_nw"), 6).alias("mean_words"),
            *aggs,
        )
    )


def unigram_lm(
    ref: DataFrame,
    text_col: str = "text",
    *,
    min_count: int = 2,
    alpha: float = 0.5,
    eager: bool = True,
) -> DataFrame:
    """Fit an add-alpha-smoothed unigram language model on a reference
    corpus: ``(token, logp)`` for every token seen >= min_count times,
    plus one ``(NULL, logp_oov)`` row carrying the out-of-vocabulary
    mass. p(t) = (c(t)+alpha) / (N_v + alpha*(V+1)) over the V vocab
    tokens plus one OOV class, so the model is a proper distribution.

    This is the cheap engine-portable stand-in for the CCNet recipe
    (Wenzek et al. 2020: score documents with an LM fit on trusted
    text, keep the low-perplexity tail): fit on a trusted reference
    slice, score the crawl with ``lm_perplexity``.

    Shape: one explode + hash agg on the token (map-side combine
    absorbs the fan-out), then a scalar cross-join — the same one-row
    broadcast trick every scalar-parameter operator here uses.

    The returned relation is persisted (MEMORY_AND_DISK) because
    scoring consumes it from several plan branches — the CALLER owns
    the cache: ``model.unpersist()`` (or ``release_cached(model)``)
    once scoring is done, or a per-slice fit loop pins a relation per
    iteration until LRU eviction.

    ``eager`` (default) materializes the fit immediately — a model FIT
    is an action, exactly like the KMeans/PQ fits elsewhere in this
    repo. The corpus token aggregation then runs exactly once (the
    persisted ``counts`` fills mid-job, so the vocab/scalar/OOV
    branches all read the cached blocks), and every scoring plan
    compiled afterwards sees the model as an InMemoryTableScan instead
    of re-planning the whole corpus lineage per consumer — the cold
    bigram_perplexity plan dropped from 18 Exchange nodes to the
    scoring core this way. ``eager=False`` restores the lazy shape for
    callers that may never score."""
    from pyspark.storagelevel import StorageLevel

    counts = (
        ref.select(F.explode(word_tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= int(min_count))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # coalesce: an empty (or fully below-cutoff) reference corpus has
    # sum(c) = NULL, which would silently poison the OOV mass; with
    # N=V=0 the model degenerates to p_oov = 1 (logp 0) — well-defined
    scalars = counts.agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("_n"),
        F.count(F.lit(1)).alias("_v"),
    )
    denom = F.col("_n") + alpha * (F.col("_v") + F.lit(1.0))
    vocab = counts.crossJoin(F.broadcast(scalars)).select(
        "token", F.log((F.col("c") + F.lit(float(alpha))) / denom).alias("logp")
    )
    oov = scalars.select(
        F.lit(None).cast("string").alias("token"),
        F.log(F.lit(float(alpha)) / denom).alias("logp"),
    )
    # persist (not localCheckpoint) keeps the lineage, so a lost
    # executor recomputes blocks instead of failing the job
    from syzgydb_spark.cache import own_cached

    from syzgydb_spark.cache import plan_already_cached

    model_plan = vocab.unionByName(oov)
    # "fit once, score many": when an identical model is already
    # session-cached and filled (same ref lineage + params ⇒
    # sameResult), the persist below attaches to the existing cached
    # relation and the eager count would be a whole job spent
    # re-counting cached blocks — per-call overhead, skipped. A
    # released, evicted or never-filled (eager=False) model fails the
    # check and the eager fit fills it.
    refit = not plan_already_cached(model_plan)
    model = model_plan.persist(StorageLevel.MEMORY_AND_DISK)
    if eager and refit:
        model.count()  # one job fills counts AND the model blocks
    # the returned relation IS the persisted block: the caller owns it
    # (plus the vocab-bounded counts intermediate) — release_cached(
    # model) or model.unpersist() when done scoring
    return own_cached(model, model, counts)


def lm_perplexity(
    df: DataFrame,
    lm: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_lm: bool = True,
) -> DataFrame:
    """Score each document against a ``unigram_lm`` model:
    ``(id, n_tokens, logppl)`` with logppl = -(1/n)*sum(log p(token)),
    OOV tokens charged the model's OOV mass, empty documents NULL.
    log-perplexity, not perplexity, so downstream threshold filters
    compare in a numerically tame range (CCNet cuts at the per-lang
    perplexity median — a logppl percentile cut is identical).

    Shape: explode -> join the (token, logp) relation -> one hash agg
    back to the id. With the default broadcast the join is map-side;
    at 100 TB a min_count-pruned vocab is ~1e6 rows, comfortably under
    the broadcast ceiling. Tokenization runs once per document."""
    oov = lm.where(F.col("token").isNull()).select(F.col("logp").alias("_oov"))
    vocab = lm.where(F.col("token").isNotNull())
    if broadcast_lm:
        vocab = F.broadcast(vocab)
    toks = df.select(
        F.col(id_col), F.explode_outer(word_tokens(text_col)).alias("token")
    )
    scored = (
        toks.join(vocab, "token", "left")
        .crossJoin(F.broadcast(oov))
        .select(
            id_col,
            "token",
            F.coalesce(F.col("logp"), F.col("_oov")).alias("_lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("token").cast("long").alias("n_tokens"),
        F.when(
            F.count("token") > 0,
            -F.sum(F.when(F.col("token").isNotNull(), F.col("_lp"))) / F.count("token"),
        ).alias("logppl"),
    )


def bigram_lm(
    ref: DataFrame,
    text_col: str = "text",
    *,
    min_count: int = 2,
    eager: bool = True,
    return_contexts: bool = False,
) -> DataFrame:
    """Fit the bigram half of a Jelinek-Mercer-interpolated LM on a
    reference corpus: ``(prev, cur, p_bi)`` where
    p_bi(cur|prev) = c(prev,cur) / c_kept(prev), with bigrams pruned at
    min_count and the context total summed over KEPT continuations —
    so p_bi is a proper conditional over each retained context's
    support. Contexts absent from the relation fall back to the
    unigram model entirely in ``bigram_perplexity`` (classic deleted
    interpolation, Jelinek & Mercer 1980; the KenLM-lite recipe for
    CCNet-style filtering when a full KenLM is unavailable).

    Shape: one explode of (prev, cur) pairs + hash agg (map-side
    combine absorbs the fan-out), then a vocabulary-sized self-agg +
    join for the context totals. Nothing wider than
    (prev, cur, count) shuffles; output is min_count-pruned and
    broadcastable exactly like ``unigram_lm`` — and, like it, the
    returned relation is persisted and CALLER-owned: unpersist (or
    ``release_cached``) when done scoring. ``eager`` fills the model
    at fit time (see unigram_lm — the corpus pair aggregation runs
    exactly once and downstream plans read InMemoryTableScan).

    ``return_contexts=True`` additionally returns the retained-context
    relation ``(prev, _ck)`` as a second value — scoring needs exactly
    "is this context retained", and deriving it here (it is the
    context-total aggregation the conditional already required) saves
    ``bigram_perplexity`` a redundant distinct over the broadcast
    model."""
    toks = F.col("_toks")
    pairs = (
        ref.select(word_tokens(text_col).alias("_toks"))
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))).alias("prev"),
                    F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))).alias("cur"),
                )
            ).alias("p")
        )
        .select(F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur"))
    )
    from pyspark.storagelevel import StorageLevel

    from syzgydb_spark.cache import own_cached

    counts = (
        pairs.groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= int(min_count))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    ctx = counts.groupBy("prev").agg(F.sum("c").alias("_ck"))
    model = counts.join(ctx, "prev").select(
        "prev",
        "cur",
        (F.col("c").cast("double") / F.col("_ck").cast("double")).alias("p_bi"),
    )
    from syzgydb_spark.cache import plan_already_cached

    refit = not plan_already_cached(model)
    model = model.persist(StorageLevel.MEMORY_AND_DISK)
    if eager and refit:
        # one job: the corpus pair aggregation fills `counts` mid-job,
        # the ctx branch and the join read the cached blocks. Skipped
        # when an identical model is already session-cached (see
        # unigram_lm — fit once, score many).
        model.count()
    model = own_cached(model, model, counts)
    if return_contexts:
        # vocab-bounded re-agg from the persisted counts; shares the
        # same cache handles (release once, everything drops)
        return model, own_cached(ctx, model, counts)
    return model


def bigram_perplexity(
    df: DataFrame,
    bi_lm: DataFrame,
    uni_lm: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    lambda_: float = 0.7,
    broadcast_lm: bool = True,
    ctx_lm: DataFrame | None = None,
) -> DataFrame:
    """Score each document with the interpolated bigram model:
    per-token p = lambda*p_bi(cur|prev) + (1-lambda)*p_uni(cur) when
    the context is in the bigram relation (unseen pairs contribute
    p_bi = 0), plain p_uni for the first token and for unseen
    contexts. Returns ``(id, n_tokens, logppl)`` with
    logppl = -(1/n)*sum(ln p); empty documents NULL — the same
    contract as ``lm_perplexity``, strictly sharper on locally
    incoherent text (word salad scores near its unigram ceiling while
    fluent text earns the bigram discount).

    Shape: one tokenization, three broadcast joins (unigram vocab,
    bigram relation, distinct-context relation — all min_count-pruned
    model-side relations), one hash agg back to the id. No shuffle
    wider than (id, token) at any point.

    lambda_ must lie in [0, 1): at exactly 1 an unseen pair in a
    retained context has p = 0 and ln(0) is NULL, which the sum would
    silently SKIP while the count still counts the token — a document
    containing an impossible event would score as MORE fluent. The
    unigram floor (lambda_ < 1) is what keeps every token's
    probability positive."""
    if not 0.0 <= float(lambda_) < 1.0:
        raise ValueError(
            f"lambda_ must be in [0, 1); got {lambda_} — the (1-lambda) "
            "unigram floor is required to keep every probability positive"
        )
    oov = uni_lm.where(F.col("token").isNull()).select(F.col("logp").alias("_oov"))
    vocab = uni_lm.where(F.col("token").isNotNull())
    if ctx_lm is not None:
        # the fit's retained-context relation (bigram_lm
        # return_contexts=True) — already one row per context
        ctx = ctx_lm.select("prev").withColumn("_ctx", F.lit(True))
    else:
        ctx = bi_lm.select("prev").distinct().withColumn("_ctx", F.lit(True))
    if broadcast_lm:
        vocab, bi_lm, ctx = F.broadcast(vocab), F.broadcast(bi_lm), F.broadcast(ctx)
    toks = F.col("_toks")
    # (prev, cur) for every token: first token pairs with a NULL prev
    zipped = (
        df.select(F.col(id_col), word_tokens(text_col).alias("_toks"))
        .select(
            id_col,
            F.explode_outer(
                F.arrays_zip(
                    F.concat(
                        F.array(F.lit(None).cast("string")),
                        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
                    ).alias("prev"),
                    toks.alias("cur"),
                )
            ).alias("p"),
        )
        .select(id_col, F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur"))
    )
    lam = F.lit(float(lambda_))
    scored = (
        zipped.join(vocab, zipped["cur"] == vocab["token"], "left")
        .join(bi_lm, ["prev", "cur"], "left")
        .join(ctx, "prev", "left")
        .crossJoin(F.broadcast(oov))
        .select(
            id_col,
            "cur",
            F.log(
                F.when(
                    F.col("_ctx").isNotNull(),
                    lam * F.coalesce(F.col("p_bi"), F.lit(0.0))
                    + (F.lit(1.0) - lam) * F.exp(F.coalesce(F.col("logp"), F.col("_oov"))),
                ).otherwise(F.exp(F.coalesce(F.col("logp"), F.col("_oov"))))
            ).alias("_lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("cur").cast("long").alias("n_tokens"),
        F.when(
            F.count("cur") > 0,
            -F.sum(F.when(F.col("cur").isNotNull(), F.col("_lp"))) / F.count("cur"),
        ).alias("logppl"),
    )


def dsir_weights(
    df: DataFrame,
    target_pred,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10_000,
    alpha: float = 1.0,
    seed: int = 42,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169):
    hashed n-gram importance resampling for targeted data selection.

    Features are the multiset of unigrams + word bigrams, hashed into
    ``n_buckets`` md5 buckets (engine-portable, like every md5-keyed
    operator here). Both the target distribution (rows satisfying
    ``target_pred``) and the raw distribution (all rows) are bucket
    histograms with add-alpha smoothing; a document's log importance
    weight is sum over its features of
    log p_target(bucket) - log p_raw(bucket). Selection is then a
    threshold/top-fraction cut on ``logw`` (the paper samples with
    Gumbel noise; a deterministic logw cut is the reproducible
    variant).

    Returns ``(id, n_feats, logw)``; empty documents get NULL logw.

    Shape: the histogram fit is explode → hash-agg on an INT bucket
    (≤ n_buckets rows out, map-side combine absorbs the fan-out);
    scoring re-explodes and joins the broadcast-sized histogram, then
    one hash agg back to the id. Nothing wider than (id, bucket) ever
    shuffles, and the histogram is capped at n_buckets rows no matter
    the corpus size."""
    from syzgydb_spark.functions.text import md5_long, word_ngrams

    def feats(t):
        return F.concat(word_tokens(t), word_ngrams(t, 2))

    def bucket(f):
        return md5_long(F.concat(F.lit(f"d{seed}:"), f)) % int(n_buckets)

    b = float(n_buckets)
    exploded = df.select(
        target_pred.alias("_t"), F.explode(feats(F.col(text_col))).alias("f")
    )
    counts = (
        exploded.groupBy(bucket(F.col("f")).alias("bkt"))
        .agg(
            F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("ct"),
            F.count(F.lit(1)).alias("cr"),
        )
    )
    scalars = counts.agg(
        F.sum("ct").cast("double").alias("_nt"),
        F.sum("cr").cast("double").alias("_nr"),
    )

    toks = df.select(
        F.col(id_col), F.explode_outer(feats(F.col(text_col))).alias("f")
    ).withColumn("bkt", bucket(F.col("f")))
    lr = (
        F.log((F.coalesce(F.col("ct"), F.lit(0)) + alpha) / (F.col("_nt") + alpha * b))
        - F.log((F.coalesce(F.col("cr"), F.lit(0)) + alpha) / (F.col("_nr") + alpha * b))
    )
    scored = (
        toks.join(F.broadcast(counts), "bkt", "left")
        .crossJoin(F.broadcast(scalars))
        .select(id_col, "f", lr.alias("_lr"))
    )
    return scored.groupBy(id_col).agg(
        F.count("f").cast("long").alias("n_feats"),
        F.when(
            F.count("f") > 0, F.sum(F.when(F.col("f").isNotNull(), F.col("_lr")))
        ).alias("logw"),
    )


def stratified_fixed_sample(
    df: DataFrame,
    k: int,
    *,
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
    oversample: float = 4.0,
) -> DataFrame:
    """EXACTLY k rows per stratum (all rows when a stratum has fewer),
    chosen by md5 order — the fixed-size sibling of the rate-based
    ``stratified_sample``. Returns the input rows plus ``sample_rank``
    (1..k within the stratum).

    Scale shape — the naive form (row_number over every stratum, keep
    <= k) sorts ENTIRE strata in single tasks; with few sources at
    100 TB that's one task folding terabytes. This one is two passes:

    1. per-stratum counts (one map-side-combined agg, rows = #strata,
       broadcast back), giving each stratum a candidate keep-rate of
       ``oversample*k/n``;
    2. a pure codegen filter keeps ~oversample*k candidates per
       stratum (md5-fraction threshold — same family as
       ``stratified_sample``), and only those go through the ranking
       window.

    Deterministic and engine-portable end to end, so a SQL oracle
    reproduces the exact sample. A stratum could in theory yield fewer
    than k candidates (P < e^-k at oversample=4 — negligible, and the
    outcome is still deterministic + oracle-reproducible); raise
    ``oversample`` if k is tiny and the guarantee matters."""
    from syzgydb_spark.functions.text import md5_long
    from pyspark.sql import Window

    key = md5_long(F.concat(F.lit(f"k{seed}:"), F.col(id_col).cast("string")))
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_n"))
    thresh = F.least(F.lit(1.0), F.lit(float(oversample * k)) / F.col("_n")) * F.lit(
        2.0**60
    )
    cand = (
        # eqNullSafe: a NULL stratum is a legitimate stratum (the
        # groupBy emits a count row for it) — a plain equi-join would
        # silently drop every NULL-stratum row from the sample
        df.join(
            F.broadcast(counts.withColumnRenamed(strata_col, "_sfs_key")),
            F.col(strata_col).eqNullSafe(F.col("_sfs_key")),
        )
        .drop("_sfs_key")
        .withColumn("_hk", key)
        .where(F.col("_hk").cast("double") < thresh)
    )
    w = Window.partitionBy(strata_col).orderBy("_hk", id_col)
    return (
        cand.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .where(F.col("sample_rank") <= int(k))
        .drop("_hk", "_n")
    )


def mixture_plan(
    df: DataFrame,
    weights: dict[str, float],
    total_tokens: int,
    *,
    strata_col: str = "source",
    text_col: str = "text",
    default_weight: float = 0.0,
    token_count_col: str | None = None,
) -> DataFrame:
    """Training-mix allocation: given target mixture ``weights`` per
    stratum (unlisted strata get ``default_weight``) and a total token
    budget, compute each stratum's sampling rate against what the
    corpus actually holds.

    Returns per stratum: ``n_docs, n_tokens, weight, target_tokens,
    rate, planned_tokens, deficit`` — weight is normalized over the
    strata PRESENT in the corpus, ``rate = min(1, target/available)``
    (a source can't be sampled above 1 without repetition — the deficit
    column is the unmet budget a mix designer reallocates or accepts),
    ``planned_tokens = rate * n_tokens``.

    One map-side-combined aggregation over low-cardinality keys plus a
    window-free scalar normalization (a broadcast-sized self-agg).
    Feed the rates to ``stratified_sample`` (or ``apply_mixture``) to
    materialize the mix; token quotas (streaming/quota.py) are the
    exact-budget alternative when the cut must land on a token count,
    not an expected rate."""
    counts = corpus_stats(
        df, text_col, by=[strata_col], token_count_col=token_count_col
    ).select(strata_col, "n_docs", "n_tokens")
    w = None
    for s, wt in sorted(weights.items()):
        cond = F.col(strata_col) == s
        w = F.when(cond, float(wt)) if w is None else w.when(cond, float(wt))
    w = w.otherwise(float(default_weight)) if w is not None else F.lit(float(default_weight))
    weighted = counts.withColumn("_w", w)
    norm = weighted.agg(F.sum("_w").alias("_wsum"))
    out = (
        weighted.crossJoin(F.broadcast(norm))
        # guarded divisions: ANSI mode (the Spark 4 default this
        # engine runs under) turns x/0 into a query-aborting error —
        # an all-zero-weight plan yields weight 0, and a zero-token
        # stratum gets rate 1 (nothing to sample; its whole target
        # shows up as deficit)
        .withColumn(
            "weight",
            F.when(F.col("_wsum") > 0, F.col("_w") / F.col("_wsum")).otherwise(
                F.lit(0.0)
            ),
        )
        .withColumn("target_tokens", F.col("weight") * F.lit(float(total_tokens)))
        .withColumn(
            "rate",
            F.least(
                F.lit(1.0),
                F.when(
                    F.col("n_tokens") > 0,
                    F.col("target_tokens") / F.col("n_tokens"),
                ).otherwise(F.lit(1.0)),
            ),
        )
        .withColumn("planned_tokens", F.col("rate") * F.col("n_tokens"))
        .withColumn(
            "deficit", F.greatest(F.lit(0.0), F.col("target_tokens") - F.col("planned_tokens"))
        )
    )
    return out.select(
        strata_col, "n_docs", "n_tokens", "weight", "target_tokens",
        "rate", "planned_tokens", "deficit",
    )


def temperature_mixture_plan(
    df: DataFrame,
    total_tokens: int,
    *,
    alpha: float = 0.3,
    strata_col: str = "source",
    text_col: str = "text",
    token_count_col: str | None = None,
) -> DataFrame:
    """Exponent-smoothed ("temperature" / alpha) sampling: stratum
    weights derived from the corpus's OWN token shares raised to
    ``alpha`` < 1 — ``w_i = n_i^alpha`` — the multilingual-corpus
    mixing rule (mBERT's exponent-smoothed sampling; Lample & Conneau
    2019 §3.1 use alpha=0.5, GPT-3-style mixes effectively hand-tune
    the same knob). alpha→1 reproduces the natural distribution,
    alpha→0 the uniform one; the head flattens and the tail
    up-weights in between.

    Same allocation algebra and output schema as ``mixture_plan``
    (normalized weight, rate = min(1, target/available), deficit
    accounting), same single bounded aggregation — only the weight
    source differs (pow of the stratum's token count instead of a
    user dict). Compose with ``apply_mixture`` to materialize."""
    counts = corpus_stats(
        df, text_col, by=[strata_col], token_count_col=token_count_col
    ).select(strata_col, "n_docs", "n_tokens")
    weighted = counts.withColumn(
        "_w", F.pow(F.col("n_tokens").cast("double"), F.lit(float(alpha)))
    )
    norm = weighted.agg(F.sum("_w").alias("_wsum"))
    out = (
        weighted.crossJoin(F.broadcast(norm))
        .withColumn(
            "weight",
            F.when(F.col("_wsum") > 0, F.col("_w") / F.col("_wsum")).otherwise(
                F.lit(0.0)
            ),
        )
        .withColumn("target_tokens", F.col("weight") * F.lit(float(total_tokens)))
        .withColumn(
            "rate",
            F.least(
                F.lit(1.0),
                F.when(
                    F.col("n_tokens") > 0,
                    F.col("target_tokens") / F.col("n_tokens"),
                ).otherwise(F.lit(1.0)),
            ),
        )
        .withColumn("planned_tokens", F.col("rate") * F.col("n_tokens"))
        .withColumn(
            "deficit",
            F.greatest(F.lit(0.0), F.col("target_tokens") - F.col("planned_tokens")),
        )
    )
    return out.select(
        strata_col, "n_docs", "n_tokens", "weight", "target_tokens",
        "rate", "planned_tokens", "deficit",
    )


def apply_mixture(
    df: DataFrame,
    plan: DataFrame,
    *,
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Materialize a ``mixture_plan``: collect the (stratum, rate) rows
    — bounded by the stratum cardinality, a documented
    broadcast-smallness contract — and apply ``stratified_sample``'s
    deterministic md5 filter at each stratum's rate."""
    rates = {
        r[strata_col]: float(r["rate"]) for r in plan.select(strata_col, "rate").collect()
    }
    return stratified_sample(
        df, rates, strata_col=strata_col, id_col=id_col, default_rate=0.0, seed=seed
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 5,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
    max_df_frac: float = 1.0,
) -> DataFrame:
    """Per-document keyword extraction: top-k terms by smoothed TF-IDF
    (``tf * (ln((N+1)/(df+1)) + 1)``, the sklearn smoothing so a
    term in every document still scores > 0). Returns
    ``(id, term, tf, df_count, tfidf, term_rank)`` with deterministic
    (tfidf DESC, term ASC) ranking; ``min_df``/``max_df_frac`` drop
    hapaxes and boilerplate terms before ranking.

    Shape: explode → (id, term) tf agg (map-side combined, all JVM
    codegen — measured FASTER than a per-doc Arrow ``Counter`` kernel:
    the partial aggregation collapses token rows before the exchange,
    so the shuffle already carries only (id, term, tf), and the
    kernel's JVM↔Python crossing cost more than the exchange it
    avoided) → term-keyed df agg (vocabulary-sized) → equi-join tf⋈df
    on term → per-doc rank window. The shuffles carry narrow
    (id, term, count) rows; the window partitions on the id (millions
    of small partitions, never a global sort). The doc count N is a
    1-row broadcast.

    The tf relation is lazily ``persist``ed (MEMORY_AND_DISK): BOTH
    consumers (the df_count aggregation and the tf⋈df join probe
    side) would otherwise each re-run the scan + tokenize + count
    pipeline — the plan had the whole subtree twice. The cached
    relation holds narrow (id, term, tf) rows (distinct-token-sized,
    far smaller than the text it replaces); at scale the single fill
    is the difference between one tokenize pass and two. persist, NOT
    ``localCheckpoint``: lineage stays, so blocks evict under pressure
    and recompute on executor loss instead of failing the query (the
    engine-wide materialization stance — dedup grams, LM models), the
    function stays lazy (no job runs until the result is consumed),
    and the cache is released via ``release_cached(result)`` — the
    house convention."""
    from pyspark.storagelevel import StorageLevel

    from syzgydb_spark.cache import own_cached

    toks = df.select(F.col(id_col), F.explode(word_tokens(text_col)).alias("term"))
    tf = (
        toks.groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df_count"))
    n_docs = df.select(F.count(F.lit(1)).cast("double").alias("_n"))
    dfc = dfc.crossJoin(F.broadcast(n_docs)).where(
        (F.col("df_count") >= int(min_df))
        & (F.col("df_count") <= F.col("_n") * float(max_df_frac))
    )
    scored = tf.join(dfc, "term").select(
        id_col,
        "term",
        "tf",
        "df_count",
        (
            F.col("tf")
            * (F.log((F.col("_n") + 1.0) / (F.col("df_count") + 1.0)) + 1.0)
        ).alias("_tfidf"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_tfidf").desc(), F.col("term").asc())
    out = (
        scored.withColumn("term_rank", F.row_number().over(w).cast("long"))
        .where(F.col("term_rank") <= int(k))
        .select(
            id_col,
            "term",
            "tf",
            "df_count",
            F.round("_tfidf", 6).alias("tfidf"),
            "term_rank",
        )
    )
    return own_cached(out, tf)


def weighted_sample(
    df: DataFrame,
    k: int,
    *,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis–
    Spirakis A-Res): each row gets key ``u^(1/w)`` with ``u`` a
    deterministic md5-derived uniform in (0, 1]; the k largest keys are
    the sample. Inclusion probability is proportional to weight, the
    choice is a pure function of (id, seed) — reproducible across
    retries, engines, and runs, unlike ``sample()``. Rows with NULL or
    non-positive weight are excluded (they cannot be drawn).

    Shape: the key is codegen'd into the scan; selection is one global
    ``ORDER BY key DESC LIMIT k`` → TakeOrderedAndProject (per-partition
    bounded heaps, merge of k·partitions rows at the driver) — no full
    sort, no corpus-wide window, at any scale."""
    from syzgydb_spark.functions.text import md5_long

    u = (
        md5_long(F.concat(F.lit(f"w{seed}:"), F.col(id_col).cast("string"))) % 1000000
        + 1
    ) / 1000001.0
    wcol = F.col(weight_col).cast("double")
    key = F.pow(u, 1.0 / wcol)
    out = (
        df.where(wcol > 0)
        .withColumn("sample_key", key)
        .orderBy(F.col("sample_key").desc(), F.col(id_col).asc())
        .limit(int(k))
    )
    return out.withColumn("sample_key", F.round("sample_key", 6))


def token_frequency_spectrum(
    df: DataFrame,
    *,
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Zipf spectrum of the corpus vocabulary: distinct terms and total
    occurrences per power-of-two frequency band (``freq_bucket = b`` ⇔
    term count in [2^b, 2^(b+1))). The curve a corpus curator reads to
    spot template explosions (mass piling into high buckets) and OCR
    noise (hapax inflation in bucket 0); Heaps/Zipf departures are the
    cheapest generated-text signal.

    Shape: explode → term-count hash agg (map-side combined) → a
    ~60-row bucket agg. The bucket is ``length(bin(count)) - 1`` —
    exact integer math, no float log2 whose ULP placement could differ
    across engines at exact powers of two."""
    counts = (
        df.select(F.explode(word_tokens(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("term_count"))
        .where(F.col("term_count") >= int(min_count))
    )
    bucket = (F.length(F.bin(F.col("term_count"))) - 1).cast("long")
    return (
        counts.select(bucket.alias("freq_bucket"), "term_count")
        .groupBy("freq_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("term_count").cast("long").alias("n_occurrences"),
        )
    )


def perplexity_bands(
    df: DataFrame,
    lm: DataFrame,
    *,
    n_bands: int = 3,
    strata_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style head/middle/tail banding (Wenzek et al. 2020): score
    every document against a ``unigram_lm``, then split each stratum
    (language) into ``n_bands`` quantile bands by log-perplexity —
    band 1 = head (most fluent). Returns ``(id, stratum, n_tokens,
    logppl, ppl_band)``; documents with no tokens get a NULL band.

    A per-stratum ``ntile`` would sort each language's entire corpus in
    one partition — the global-window shape the plan advisor forbids.
    Instead the band boundaries are computed on the *rounded-logppl
    histogram* (bounded: one row per distinct 6-decimal logppl value
    per stratum): cumulative counts over that small relation locate the
    bucket value where band i's quota ``ceil(N*i/n)`` is reached, and
    every document joins its band back by value comparison. Documents
    sharing a rounded score share a band (boundary buckets are not
    split), which is the honest contract at scale — and exactly what
    the oracle replays."""
    from pyspark.storagelevel import StorageLevel

    from syzgydb_spark.cache import own_cached

    scored = lm_perplexity(df, lm, text_col=text_col, id_col=id_col)
    strata = df.select(F.col(id_col), F.col(strata_col))
    # persist the per-document scores: both the histogram branch and the
    # band-assignment branch consume this relation, and its lineage is
    # the full token explode + LM join — one narrow row per DOCUMENT
    # cached vs two corpus-token scans recomputed. The caller owns the
    # cache (release_cached), like every multi-consumer operator here.
    scored = (
        scored.join(strata, id_col)
        .withColumn("_b", F.round(F.col("logppl"), 6))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    hist = scored.where(F.col("_b").isNotNull()).groupBy(strata_col, "_b").agg(
        F.count(F.lit(1)).alias("_c")
    )
    wcum = (
        Window.partitionBy(strata_col)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("_cum", F.sum("_c").over(wcum)).withColumn(
        "_n", F.sum("_c").over(Window.partitionBy(strata_col))
    )
    # boundary value for band i = smallest bucket whose cumulative count
    # reaches ceil(N*i/n_bands); a doc's band = 1 + #boundaries strictly
    # below its bucket. All boundaries come from ONE aggregation over
    # the bounded histogram — min(when(cum >= quota_i, bucket)) per
    # band — instead of a where+min pass per band re-running the
    # histogram lineage n_bands-1 times.
    bounds = None
    if int(n_bands) > 1:
        bounds = cum.groupBy(strata_col).agg(
            *[
                F.min(
                    F.when(
                        F.col("_cum")
                        >= F.ceil(F.col("_n") * i / int(n_bands)),
                        F.col("_b"),
                    )
                ).alias(f"_bound{i}")
                for i in range(1, int(n_bands))
            ]
        )
    out = scored
    band = F.lit(1)
    if bounds is not None:
        out = out.join(F.broadcast(bounds), strata_col, "left")
        for i in range(1, int(n_bands)):
            band = band + F.when(F.col("_b") > F.col(f"_bound{i}"), 1).otherwise(0)
    res = out.select(
        id_col,
        F.col(strata_col).alias("stratum"),
        "n_tokens",
        F.col("_b").alias("logppl"),
        F.when(F.col("_b").isNotNull(), band).cast("long").alias("ppl_band"),
    )
    return own_cached(res, scored)


def top_terms(
    df: DataFrame,
    k: int = 20,
    *,
    strata_col: str = "source",
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Top-k terms per stratum by frequency — the corpus-inspection
    rollup behind vocabulary drift / boilerplate checks. Returns
    ``(stratum, term, term_count, term_rank)`` with deterministic
    (count DESC, term ASC) ranking.

    Shape: explode → one (stratum, term)-keyed hash agg (map-side
    combined), then a rank window partitioned by stratum. The window
    input is the DISTINCT-term relation per stratum — vocabulary-sized,
    not corpus-sized — and ``min_count`` prunes the long tail before
    the sort when vocabularies are huge."""
    from pyspark.sql import Window

    counts = (
        df.select(F.col(strata_col), F.explode(word_tokens(text_col)).alias("term"))
        .groupBy(strata_col, "term")
        .agg(F.count(F.lit(1)).alias("term_count"))
        .where(F.col("term_count") >= int(min_count))
    )
    w = Window.partitionBy(strata_col).orderBy(
        F.col("term_count").desc(), F.col("term").asc()
    )
    return (
        counts.withColumn("term_rank", F.row_number().over(w).cast("long"))
        .where(F.col("term_rank") <= int(k))
    )


def vocab_stats(
    df: DataFrame,
    *,
    text_col: str = "text",
    strata_col: str = "source",
    approx: bool = False,
) -> DataFrame:
    """Per-stratum vocabulary accounting: total tokens, distinct
    tokens, and type-token ratio — the vocabulary-growth signal a
    mixture curator reads next to `corpus_stats` (a stratum whose TTR
    collapses is template/boilerplate-heavy; Heaps-law departures flag
    generated text).

    ``approx=False`` (exact) counts distinct via the token explode +
    two-level aggregation — exact and oracle-replayable, but the
    distinct shuffle carries tokens. ``approx=True`` is the 100 TB
    path: HyperLogLog++ (`approx_count_distinct`, rsd 1.6%) folds
    map-side into one sketch per stratum — one narrow shuffle of
    sketches, no token ever leaves its partition a second time."""
    from syzgydb_spark.functions.text import word_tokens

    # explode_outer + count(col): a stratum whose documents yield zero
    # tokens still reports an n_tokens=0 row instead of vanishing
    toks = df.select(
        F.col(strata_col), F.explode_outer(word_tokens(text_col)).alias("_tok")
    )
    distinct = (
        F.approx_count_distinct("_tok", 0.016)
        if approx
        else F.count_distinct("_tok")
    )
    return (
        toks.groupBy(strata_col)
        .agg(
            F.count("_tok").alias("n_tokens"),
            distinct.cast("long").alias("n_distinct_tokens"),
        )
        .withColumn(
            "type_token_ratio",
            # guarded: under ANSI mode a zero-token stratum's 0/0
            # aborts the query instead of giving the promised 0-row
            F.when(
                F.col("n_tokens") > 0,
                F.round(F.col("n_distinct_tokens") / F.col("n_tokens"), 9),
            ),
        )
    )
