"""Corpus-curation operators: the steps between "deduped crawl corpus" and
"training mix" — deterministic stratified sampling, domain-mix reporting,
and token-budget shard packing.

All three are pure DataFrame plans (no Python in the hot path). Scale
shapes, per op:

- stratified_sample: a FILTER — no shuffle, no state, pushes to the scan.
  Sampling decisions are a pure function of (salt, doc_id), so the same
  doc samples in or out on every run, on any cluster size, independent of
  partitioning. md5-prefix thresholding (not rand()) keeps it
  reproducible and lets any external system (the DuckDB oracle, a
  downstream auditor) re-derive the exact kept set.
- domain_mix: one hash aggregation on (source, lang) with map-side partial
  combine, then a 1-row broadcast join for the corpus total. The wide
  input never moves twice.
- pack_shards: a global running total WITHOUT a single-partition window —
  range-repartition on the order key, per-partition partial sums, a tiny
  driver-side prefix sum over one number per partition (same technique as
  engine.dense_seq, which is plan-guarded against one-task funnels). At
  100 TB the driver sees shuffle_partitions longs; everything else is
  distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F


# ---------------------------------------------------------------------------
# deterministic stratified sampling
# ---------------------------------------------------------------------------

# Per-language keep rates for the default training mix. Expressed as
# 16-bit hex thresholds on the first 4 hex digits of md5(salt:doc_id):
# a doc is kept iff its 4-hex bucket sorts below the threshold, so
# '8000' keeps 32768/65536 = 1/2 of docs. Hex-string comparison == the
# numeric comparison (fixed width, lowercase), and md5 is reproducible
# everywhere — the oracle re-derives the exact sample.
DEFAULT_RATES = {"en": 0.5, "de": 0.25, "fr": 0.25}
DEFAULT_RATE = 0.125
SAMPLE_SALT = "samp"


def rate_threshold(rate: float) -> str:
    """4-hex-digit threshold keeping ~rate of uniform md5 prefixes."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate out of [0,1]: {rate}")
    return format(min(int(rate * 65536), 65535), "04x") if rate < 1.0 \
        else "ffff"


def sample_bucket(doc_id_col, salt: str = SAMPLE_SALT):
    """The doc's 4-hex sampling bucket: substr(md5(salt:doc_id), 1, 4)."""
    return F.substring(
        F.md5(F.concat(F.lit(salt + ":"), doc_id_col.cast("string"))), 1, 4
    )


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float] | None = None,
    default_rate: float = DEFAULT_RATE,
    strata_col: str = "lang",
    salt: str = SAMPLE_SALT,
) -> DataFrame:
    """Keep a deterministic per-stratum fraction of docs.

    Returns doc_id, stratum, bucket for the kept rows. Pure narrow filter:
    at any scale this is a predicate on the scan — no shuffle, no
    coordination, and re-running (or running on a different cluster
    size / partitioning) keeps the identical set.
    """
    rates = DEFAULT_RATES if rates is None else rates
    thr = F.lit(rate_threshold(default_rate))
    for stratum, rate in sorted(rates.items()):
        thr = F.when(
            F.col(strata_col) == stratum, F.lit(rate_threshold(rate))
        ).otherwise(thr)
    return (
        docs.withColumn("bucket", sample_bucket(F.col("doc_id"), salt))
        .filter(F.col("bucket") < thr)
        .select("doc_id", F.col(strata_col).alias("stratum"), "bucket")
    )


# ---------------------------------------------------------------------------
# domain-mix report
# ---------------------------------------------------------------------------


def domain_mix(docs: DataFrame) -> DataFrame:
    """Docs / chars / corpus share per (source, lang) cell.

    One partial-aggregated groupBy; the corpus total joins back as a
    1-row broadcast over a constant key (Catalyst folds the constant
    equality and plans BroadcastNestedLoopJoin — with a single broadcast
    row that is one comparison per stream row, the right shape at any
    scale). Post-agg cardinality is |sources| x |langs|, tiny at any
    corpus size.
    """
    g = docs.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    tot = g.agg(F.sum("n_docs").alias("_tot")).withColumn("_one", F.lit(1))
    return (
        g.withColumn("_one", F.lit(1))
        .join(F.broadcast(tot), "_one")
        .withColumn(
            "share",
            F.round(F.col("n_docs").cast("double") / F.col("_tot"), 6),
        )
        .select("source", "lang", "n_docs", "total_chars", "share")
    )


# ---------------------------------------------------------------------------
# token-budget shard packing
# ---------------------------------------------------------------------------


def with_running_total(
    df: DataFrame, value_col: str, order_cols: list[str],
    out_col: str = "cum",
) -> DataFrame:
    """Global running total of value_col in (order_cols) order — scale-safe.

    A bare ``SUM() OVER (ORDER BY ...)`` funnels every row through ONE
    task. Instead (engine.dense_seq's shape, generalized from counts to
    sums): range-repartition on the key so partitions hold disjoint
    ordered ranges, sum within each partition, and shift by the cumulative
    sums of the preceding partitions — one long per partition crosses the
    driver. localCheckpoint pins the (nondeterministically sampled) range
    partitioning between the offsets job and the output job; callers
    should project df down to the key + value columns first so the pinned
    blocks stay narrow.
    """
    spark = df.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    d = df.repartitionByRange(n, *[F.col(c) for c in order_cols]).withColumn(
        "_pid", F.spark_partition_id()
    )
    d = d.localCheckpoint(eager=True)
    sums = {
        r["_pid"]: r["s"]
        for r in d.groupBy("_pid")
        .agg(F.sum(value_col).alias("s"))
        .collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(sums):
        offsets[pid] = acc
        acc += int(sums[pid] or 0)
    if offsets:
        kv = []
        for pid, ofs in offsets.items():
            kv.extend([F.lit(pid), F.lit(ofs)])
        off = F.coalesce(F.create_map(*kv)[F.col("_pid")], F.lit(0))
    else:
        off = F.lit(0)
    w = (
        W.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return d.withColumn(
        out_col, (off + F.sum(value_col).over(w)).cast("long")
    ).drop("_pid")


def pack_shards(
    docs_with_tokens: DataFrame, budget: int,
    order_col: str = "doc_id", tokens_col: str = "n_tokens",
) -> DataFrame:
    """Assign each doc to a training shard by token budget.

    Docs are laid out in deterministic (order_col) order; a doc belongs to
    the shard containing its START offset: shard_id = (cum - n_tokens) //
    budget. Every shard except possibly the last then holds >= budget
    tokens once its successor starts, docs never split, and the mapping is
    a pure function of the ordered corpus — independent of partitioning
    and cluster size (asserted by the cross-width determinism test).

    Returns order_col, n_tokens, cum_tokens, shard_id.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive: {budget}")
    d = with_running_total(
        docs_with_tokens.select(order_col, tokens_col),
        tokens_col, [order_col], out_col="cum_tokens",
    )
    return d.select(
        order_col,
        F.col(tokens_col).cast("long").alias("n_tokens"),
        "cum_tokens",
        F.floor(
            (F.col("cum_tokens") - F.col(tokens_col)) / F.lit(budget)
        ).cast("long").alias("shard_id"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# Fixed scrub order: earlier classes are redacted before later patterns
# run, so overlapping spans resolve identically on every engine. Patterns
# stay in the RE2-compatible subset (no lookaround) so Java regex (Spark)
# and RE2 (DuckDB oracle / external validators) agree byte-for-byte.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
)


def pii_scrub(docs: DataFrame, text_col: str = "text",
              out_col: str = "scrubbed") -> DataFrame:
    """Redact PII spans with typed tokens (``<EMAIL>`` etc.) and count
    redactions per class — the standard scrub pass between dedup and
    shard packing in a training-data pipeline.

    Pure JVM regexp (one fused projection, no UDF, no shuffle): counts are
    occurrences of the pattern in the text as seen by THAT stage of the
    scrub chain (split-length minus one — cheaper than a regex-extract-all
    materialization and identical for non-empty patterns), so a span
    consumed by an earlier class is never double-counted. Embarrassingly
    parallel at any scale; Catalyst keeps it inside one whole-stage
    codegen span.
    """
    cur = F.col(text_col)
    counts = []
    for name, pat in PII_PATTERNS:
        counts.append(
            (F.size(F.split(cur, pat, -1)) - 1).cast("long")
            .alias(f"n_{name}")
        )
        cur = F.regexp_replace(cur, pat, f"<{name.upper()}>")
    return docs.select("*", *counts, cur.alias(out_col))


# ---------------------------------------------------------------------------
# Gopher quality rules
# ---------------------------------------------------------------------------

# The repetition-free subset of the Gopher document-quality filter (Rae et
# al. 2021, appendix A1.1; the repetition family lives in
# textops.rep_metrics): word-count bounds, mean-word-length bounds,
# symbol-to-word ratio, bullet-/ellipsis-line fractions, alphabetic-word
# fraction, and a required-stopword floor. All thresholds evaluate as
# INTEGER cross-multiplications (e.g. 10*symbols <= words instead of
# ratio <= 0.1), so pass/fail never rides a float rounding boundary and
# any external engine reproduces the exact kept set.
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)
GOPHER_BULLETS: tuple[str, ...] = ("•", "-", "*")


def gopher_rules(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc Gopher rule features + the combined ``passes_gopher`` gate.

    One fused JVM projection over the token/line arrays (higher-order
    functions only — no UDF, no shuffle, embarrassingly parallel at any
    scale; the filter composes with a scan-level pushdown when used as a
    gate). Rules, with their integer-form tests:

      50 <= n_words <= 100000
      3 <= mean word length <= 10      (3n <= sum_len <= 10n)
      symbol-to-word ratio <= 0.1      (10 * (#hash + #ellipsis) <= n)
      bullet-started lines <= 90%      (10 * n_bullet <= 9 * n_lines)
      ellipsis-ended lines <= 30%      (10 * n_ellip_end <= 3 * n_lines)
      words with an alpha char >= 80%  (5 * n_alpha >= 4 * n)
      >= 2 distinct Gopher stopwords present
    """
    from sparkcrawl.textops import with_tokens

    t = F.col(text_col)
    d = with_tokens(docs, text_col)
    toks = F.col("tokens")
    n_words = F.size(toks).cast("long")
    sum_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    toks_l = F.transform(toks, F.lower)
    n_alpha = F.size(
        F.filter(toks, lambda x: x.rlike("[A-Za-z]"))
    ).cast("long")
    n_stop = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            lambda s: F.array_contains(toks_l, s),
        )
    ).cast("long")
    # symbols: '#' and ellipsis ('...' counted non-overlapping, '…')
    n_sym = (
        (F.length(t) - F.length(F.translate(t, "#", "")))
        + (F.length(t) - F.length(F.replace(t, F.lit("...")))) / 3
        + (F.length(t) - F.length(F.translate(t, "…", "")))
    ).cast("long")
    lines = F.split(t, "\n", -1)
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(
        F.filter(
            lines,
            lambda line: F.ltrim(line).substr(1, 1).isin(*GOPHER_BULLETS),
        )
    ).cast("long")
    n_ellip_end = F.size(
        F.filter(
            lines,
            lambda line: F.rtrim(line).endswith("...")
            | F.rtrim(line).endswith("…"),
        )
    ).cast("long")
    passes = (
        (n_words >= 50) & (n_words <= 100_000)
        & (sum_len >= 3 * n_words) & (sum_len <= 10 * n_words)
        & (10 * n_sym <= n_words)
        & (10 * n_bullet <= 9 * n_lines)
        & (10 * n_ellip_end <= 3 * n_lines)
        & (5 * n_alpha >= 4 * n_words)
        & (n_stop >= 2)
    )
    six = F.lit(6)
    return d.select(
        *docs.columns,
        n_words.alias("n_words"),
        F.round(sum_len / F.greatest(n_words, F.lit(1)), six).alias(
            "mean_word_len"
        ),
        F.round(n_sym / F.greatest(n_words, F.lit(1)), six).alias(
            "symbol_to_word"
        ),
        F.round(n_bullet / n_lines, six).alias("bullet_line_frac"),
        F.round(n_ellip_end / n_lines, six).alias("ellipsis_line_frac"),
        F.round(n_alpha / F.greatest(n_words, F.lit(1)), six).alias(
            "alpha_word_frac"
        ),
        n_stop.alias("n_stop_hits"),
        passes.alias("passes_gopher"),
    )


# ---------------------------------------------------------------------------
# DSIR importance weights
# ---------------------------------------------------------------------------


def dsir_weights(docs: DataFrame, target_col: str = "is_target",
                 text_col: str = "text", n_buckets: int = 4096,
                 quant: int = 1_000_000) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every document
    by how target-like its hashed-bigram feature distribution is.

    Two Laplace-smoothed bag-of-hashed-ngrams models are fit in one pass —
    the TARGET model over docs where ``target_col`` is true, the RAW model
    over the whole corpus — and a doc's weight is the summed per-feature
    log-likelihood ratio:

        lam[b]  = ln( ((cnt_t[b]+1) * (N_raw+B)) /
                      ((cnt_r[b]+1) * (N_t+B)) )        per bucket b
        weight  = sum over the doc's bigram features of lam[bucket(g)]

    Features are lowercased word bigrams hashed to B buckets by the first
    log16(B) hex chars of md5 (default B=4096 -> 3 hex chars, the full
    3-hex range; B must be a power of 16 so the prefix width is exact —
    otherwise the actual bucket count would silently diverge from the B
    used in the Laplace smoothing), the same cross-engine idiom as the
    HLL sketch; lam is quantized ONCE per bucket
    to integer micro-nats (round(lam*quant)), so per-doc sums are exact
    integer math — the kept set never rides a float summation order.
    The paper's Gumbel-top-k resample is replaced by the deterministic
    sign gate ``target_like = weight_q > 0`` (more target-like than raw);
    downstream resamplers can threshold weight_q however they like.

    Scale shape: one explode -> ONE partial-combined agg keyed by bucket
    (output <= B rows, broadcast back), one per-doc agg. The model tables
    and corpus totals ride a 1-row / B-row broadcast — nothing about the
    corpus size ever reaches the driver.
    """
    from sparkcrawl.textops import with_shingles

    hex_width = max(1, (n_buckets.bit_length() - 1) // 4)
    if 16 ** hex_width != n_buckets:
        raise ValueError(
            f"n_buckets must be a power of 16, got {n_buckets}"
        )
    b = F.lit(n_buckets)
    d = with_shingles(docs, n=2, text_col=text_col).select(
        "doc_id",
        F.col(target_col).alias("_t"),
        F.transform("shingles", F.lower).alias("_grams"),
    )
    feat = d.select(
        "doc_id",
        "_t",
        F.explode("_grams").alias("_g"),
    ).select(
        "doc_id",
        "_t",
        F.conv(F.substring(F.md5("_g"), 1, hex_width), 16, 10)
        .cast("int")
        .alias("bucket"),
    )
    cnt = feat.groupBy("bucket").agg(
        F.count("*").alias("cnt_r"),
        F.sum(F.col("_t").cast("long")).alias("cnt_t"),
    )
    tot = cnt.agg(
        F.sum("cnt_r").alias("_nr"), F.sum("cnt_t").alias("_nt")
    ).withColumn("_one", F.lit(1))
    lam = (
        cnt.withColumn("_one", F.lit(1))
        .join(F.broadcast(tot), "_one")
        .select(
            "bucket",
            F.round(
                F.log(
                    ((F.col("cnt_t") + 1) * (F.col("_nr") + b)).cast(
                        "double"
                    )
                    / ((F.col("cnt_r") + 1) * (F.col("_nt") + b)).cast(
                        "double"
                    )
                )
                * quant
            )
            .cast("long")
            .alias("lam_q"),
        )
    )
    per_doc = (
        feat.join(F.broadcast(lam), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_feats"),
            F.sum("lam_q").alias("weight_q"),
        )
    )
    return (
        d.select("doc_id", F.col("_t").alias("is_target"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "is_target",
            F.coalesce(F.col("n_feats"), F.lit(0)).cast("long").alias(
                "n_feats"
            ),
            F.coalesce(F.col("weight_q"), F.lit(0)).cast("long").alias(
                "weight_q"
            ),
            (F.coalesce(F.col("weight_q"), F.lit(0)) > 0).alias(
                "target_like"
            ),
        )
    )


def dsir_resample(
    docs: DataFrame,
    k: int = 200,
    target_col: str = "is_target",
    text_col: str = "text",
    quant: int = 1_000_000,
) -> DataFrame:
    """DSIR's actual SELECTION step (Xie et al. 2023 §2: Gumbel top-k):
    sample ``k`` documents WITHOUT replacement with probability
    proportional to exp(importance weight), deterministically.

    Gumbel-max reduces weighted sampling to a per-row key:

        key = weight + Gumbel(0,1) = weight - ln(-ln(u)),  u ~ U(0,1)

    and the top-k keys are exactly a weight-proportional sample. The
    uniform is derived from md5("gum:"||doc_id) (first 8 hex chars ->
    (int + 0.5) / 2^32, never 0 or 1), so the draw is reproducible on any
    cluster size / partitioning and in the DuckDB oracle. Keys are
    quantized to integer micro-nats and ties broken by doc_id.

    Scale shape: dsir_weights' broadcast-model pipeline plus one narrow
    projection; the top-k is an ``orderBy(...).limit(k)`` which Spark
    plans as TakeOrdered (per-partition heaps + a k-row driver merge) —
    no global sort, nothing corpus-sized crosses one task.
    """
    w = dsir_weights(
        docs, target_col=target_col, text_col=text_col, quant=quant
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("gum:"), F.col("doc_id").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    key = F.col("weight_q").cast("double") / quant - F.log(-F.log(u))
    # floor(x + 0.5) rather than round(): it rounds half toward +inf
    # (2.5 -> 3, -2.5 -> -2) identically in Spark, DuckDB, and the Python
    # reference, so an exact-.5 tie cannot diverge across the three
    # implementations (round() is HALF_EVEN in Python, HALF_UP in Spark).
    return (
        w.withColumn("key_q", F.floor(key * quant + F.lit(0.5)).cast("long"))
        .select("doc_id", "weight_q", "key_q")
        .orderBy(F.desc("key_q"), "doc_id")
        .limit(k)
    )


# ---------------------------------------------------------------------------
# C4 line-level filters
# ---------------------------------------------------------------------------

# C4 (Raffel et al. 2020, section 2.2) page-level red flags. The public
# pipeline also consults an external profanity blocklist; the engine takes
# the list as a parameter (policy, not mechanism) with a tiny default so
# the code path is exercised.
C4_PHRASE_FLAGS: tuple[str, ...] = ("lorem ipsum", "javascript")
C4_DEFAULT_BADWORDS: tuple[str, ...] = ("xxx", "porn")
C4_TERMINALS: tuple[str, ...] = (".", "!", "?", '"')


def c4_line_filters(
    docs: DataFrame,
    text_col: str = "text",
    min_words_per_line: int = 5,
    min_kept_lines: int = 3,
    badwords: tuple[str, ...] = C4_DEFAULT_BADWORDS,
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020, section 2.2):
    keep only lines with >= ``min_words_per_line`` words that end in
    terminal punctuation ('.', '!', '?', '"'), then gate the page on
    >= ``min_kept_lines`` surviving lines, no 'lorem ipsum' / 'javascript'
    phrase, no '{' (code), and zero blocklist hits.

    One fused JVM projection over the line array (split + filter +
    array_join — no UDF, no shuffle; composes with scan pushdown as a
    gate). All tests are exact string predicates, so the kept set and the
    cleaned text are byte-identical on any engine or partitioning.
    Trim semantics are SPACES-ONLY (0x20): Spark's trim/rtrim and DuckDB's
    agree on that; a tab-padded line keeps its tabs for the terminal-punct
    test (pinned by the fuzz parity test against a Python reference using
    strip(' ')).
    Returns the input columns + (n_lines, n_kept_lines, clean_text,
    has_phrase_flag, has_brace, n_badwords, passes_c4).
    """
    t = F.col(text_col)
    lines = F.split(t, "\n", -1)
    kept = F.filter(
        lines,
        lambda line: (
            F.size(F.split(F.trim(line), r"\s+"))
            >= F.lit(min_words_per_line)
        )
        & F.array_contains(
            F.array(*[F.lit(c) for c in C4_TERMINALS]),
            F.rtrim(line).substr(F.length(F.rtrim(line)), F.lit(1)),
        ),
    )
    low = F.lower(t)
    has_phrase = F.exists(
        F.array(*[F.lit(p) for p in C4_PHRASE_FLAGS]),
        lambda p: F.contains(low, p),
    )
    has_brace = F.contains(t, F.lit("{"))
    toks_l = F.transform(F.split(F.trim(t), r"\s+"), F.lower)
    n_bad = F.size(
        F.filter(
            toks_l,
            lambda x: F.array_contains(
                F.array(*[F.lit(w) for w in badwords]), x
            ),
        )
    ).cast("long")
    n_kept = F.size(kept).cast("long")
    passes = (
        (n_kept >= min_kept_lines)
        & ~has_phrase
        & ~has_brace
        & (n_bad == 0)
    )
    return docs.select(
        "*",
        F.size(lines).cast("long").alias("n_lines"),
        n_kept.alias("n_kept_lines"),
        F.array_join(kept, "\n").alias("clean_text"),
        has_phrase.alias("has_phrase_flag"),
        has_brace.alias("has_brace"),
        n_bad.alias("n_badwords"),
        passes.alias("passes_c4"),
    )


# ---------------------------------------------------------------------------
# deterministic corpus shuffle
# ---------------------------------------------------------------------------


def deterministic_shuffle(
    docs: DataFrame, salt: str = "shuf", id_col: str = "doc_id"
) -> DataFrame:
    """Global training-order shuffle as a pure function of the data: each
    doc's shuffle key is md5(salt:doc_id) and its position is the exact
    global rank in (key, doc_id) order — the "shuffle the corpus before
    sharding" step every training pipeline runs, made reproducible (change
    ``salt`` per epoch for a fresh permutation; any external system
    re-derives the same order).

    Scale shape: rank rides with_running_total's partition-free machinery
    (range-repartition on the key, per-partition counts, one long per
    partition through the driver) — never a single-partition
    ``ROW_NUMBER() OVER (ORDER BY ...)`` funnel. Returns
    (id_col, shuffle_key, pos) with pos 1-based.
    """
    key = F.md5(
        F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))
    )
    d = docs.select(
        F.col(id_col), key.alias("shuffle_key"), F.lit(1).alias("_one")
    )
    out = with_running_total(
        d, "_one", ["shuffle_key", id_col], out_col="pos"
    )
    return out.select(id_col, "shuffle_key", F.col("pos").cast("long"))


# ---------------------------------------------------------------------------
# cross-document line dedup
# ---------------------------------------------------------------------------


def line_dedup(
    docs: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """RefinedWeb/Dolma-style exact line dedup ACROSS documents: drop any
    line whose exact content appears in >= ``min_docs`` distinct docs
    (headers, footers, nav boilerplate), rebuild each doc from its
    surviving lines in original order. Whitespace-only lines always
    survive (document structure, not content).

    Scale shape: per-doc-DISTINCT (doc, line-hash) pairs make a plain
    COUNT(*) the distinct-doc count (no COUNT(DISTINCT) at 10^12-line
    scale — the boilerplate_ngrams trick); the common-line set semi-joins
    back on the line hash; reassembly sorts (pos, line) structs per doc —
    collect order never matters. Shuffles key on the line hash and the
    doc id only. Returns (doc_id, n_lines, n_kept, clean_text).
    """
    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias(
            "pos", "line"
        ),
    )
    cand = lines.filter(F.trim("line") != "").select(
        "doc_id", F.md5("line").alias("h")
    ).distinct()
    common = (
        cand.groupBy("h")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= min_docs)
        .select("h")
    )
    kept = lines.join(
        common,
        (F.md5(F.col("line")) == common["h"]) & (F.trim("line") != ""),
        "left_anti",
    )
    agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "line"))
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text"),
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(F.col(text_col), "\n", -1))
        .cast("long")
        .alias("n_lines"),
    )
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )
