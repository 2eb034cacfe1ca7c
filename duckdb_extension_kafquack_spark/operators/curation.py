"""Corpus-curation operators a large-scale training-data pipeline needs:
benchmark decontamination, repetition filtering (Gopher-style), PII /
blocklist scrubbing, mixture resampling, and per-group quantile stats.

Scale design (the point of each op at 100 TB):

* ``contamination_check`` — the benchmark set is SMALL by construction
  (test sets are thousands of docs, the corpus is billions), so its
  n-gram set is aggregated once and broadcast; the corpus side is a
  map-only ``array_intersect`` per doc.  No shuffle of the corpus, no
  driver-side materialization (``collect_set`` runs executor-side and
  ships with the broadcast exchange).
* ``text_repetition`` — all Gopher-style repetition features fold
  per-row with higher-order functions (sort + run-length scan); the only
  shuffle is the final tiny per-language rollup.
* ``pii_scrub`` — pure ``regexp_extract_all`` / array-filter counters;
  map-only + tiny rollup.  Regex patterns are restricted to syntax with
  identical semantics in Java regex (Spark) and RE2 (DuckDB oracle).
* ``mixture_resample`` — deterministic hash-based Bernoulli sampling per
  language (md5 bucket < rate·1000): reproducible across engines, runs,
  and cluster sizes, unlike ``rand()``-based sampling.
* ``quantile_stats`` — exact ``percentile`` here (oracle-checkable);
  the 100 TB path swaps in ``approx_percentile`` with the same plan
  shape (noted in the docstring rather than silently).

Cross-engine exactness: every filter threshold compares EXACT int/int
divisions (both engines do one IEEE division of identical integers), so
no boundary row can flip; only order-dependent float AVGs are rounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import derived
from ..functions.hashing import duck_hash64, spark_hash64
from ..session import load_tables
from ..suite import query

# ---------------------------------------------------------------------------
# Contamination check (benchmark n-gram decontamination)
# ---------------------------------------------------------------------------

# 4-grams: real pipelines use 8-13; the synthetic fixture's tiny
# vocabulary needs a shorter n for the check to exercise non-zero hits
CONTAM_NGRAM = 4
_BENCH_MOD = 97  # doc_id % 97 == 0 → the held-out "benchmark" slice

_SPARK_TOKS = "filter(split(text, ' '), t -> t != '')"
# guard: sequence(1, n-4) is DESCENDING when n < 5 (bogus shingles) — ADVICE r01
_SPARK_5GRAMS = (
    f"IF(size(toks) >= {CONTAM_NGRAM}, "
    f"array_distinct(transform(sequence(1, size(toks) - {CONTAM_NGRAM - 1}), "
    f"i -> concat_ws(' ', slice(toks, i, {CONTAM_NGRAM})))), "
    "CAST(array() AS ARRAY<STRING>))"
)


#: LRU bound on the persisted per-doc gram relations, memoized per input
#: plan (r12 advice): each DISTINCT input plan (every replication
#: factor in the scaling probe, every SF dir) used to pin a
#: corpus-scaled cached relation for process lifetime.  Cap 2 bounds the
#: pinned storage to at most two corpus-scaled relations; eviction
#: unpersists eagerly (the evicted plan belongs to a finished query —
#: queries run sequentially — so at worst a late consumer recomputes).
_GRAMS_PERSIST_CAP = 2


def _persisted_grams(docs: DataFrame) -> DataFrame:
    """Persist (and memoize) the per-doc gram-array relation for
    :func:`contamination_counts`, evicting older input plans so the
    cache footprint stays bounded across many invocations."""
    from pyspark import StorageLevel

    from .dedup import _repartition_if_narrow

    return derived.get_or_build(
        "grams",
        docs.sparkSession,
        derived.plan_key(docs),
        lambda: _repartition_if_narrow(docs)
        .selectExpr("doc_id", "source", f"{_SPARK_TOKS} AS toks")
        .selectExpr("source", "doc_id", f"{_SPARK_5GRAMS} AS gs")
        .persist(StorageLevel.MEMORY_AND_DISK),
        keep=_GRAMS_PERSIST_CAP,
    )


def contamination_counts(docs: DataFrame) -> DataFrame:
    """Per-source decontamination report: how many corpus docs share at
    least one word-4-gram with the benchmark slice (doc_id % 97 == 0).

    Plan: benchmark 4-grams (distinct, small — test sets are thousands
    of docs) broadcast; corpus grams explode into a broadcast HASH join
    against them.  The join's hash table is built ONCE per task — the
    earlier ``array_intersect``-against-a-collected-array formulation
    rebuilt the benchmark set per ROW, an O(corpus·|bench|) term that
    the 16× scaling probe exposed as quadratic wall-clock.  Matches are
    rare by construction, so the per-doc rollup shuffles only hits; the
    per-source totals come straight from the gram relation.

    The per-doc gram ARRAY is persisted before the two explodes (r12):
    Catalyst collapses the array-building projection into Generate, so
    the tokenize + gram-build + array_distinct expression was
    re-evaluated once per EXPLODED OUTPUT ROW — ~n_grams× the intended
    work, measured as 3.7s of a 5.1s row on a 250k-gram fixture (the
    trap is invisible in `.explain`, which shows the projection once).
    Caching materializes the arrays once per input row; both explodes
    and the totals rollup then read the columnar cache.  The projection
    is column-REORDERED so the CacheManager can never substitute it
    into another builder (the `_persisted_sig_sets` rule), and the
    relation is scan-sized (one row per doc) — MEMORY_AND_DISK spills
    at 100 TB.  Persist handles are memoized per input plan with a
    2-entry LRU (:func:`_persisted_grams`) so repeated/varied
    invocations can't pin unbounded cache (r12 advice).  Input spread
    via ``_repartition_if_narrow`` (map-only plan, single-split local
    fixture; no-op at scale)."""
    grams = _persisted_grams(docs)
    bench = (
        grams.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .select(F.explode("gs").alias("g"))
        .distinct()
    )
    corpus = grams.filter(F.col("doc_id") % _BENCH_MOD != 0)
    hits = (
        corpus.select("doc_id", "source", F.explode("gs").alias("g"))
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id", "source")
        .agg(F.count(F.lit(1)).alias("icnt"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("contaminated_docs"),
            F.sum("icnt").alias("contaminated_ngrams"),
        )
    )
    totals = corpus.groupBy("source").agg(F.count(F.lit(1)).alias("docs_checked"))
    return totals.join(hits, "source", "left").select(
        "source",
        "docs_checked",
        F.coalesce("contaminated_docs", F.lit(0)).cast("bigint").alias("contaminated_docs"),
        F.coalesce("contaminated_ngrams", F.lit(0)).cast("bigint").alias("contaminated_ngrams"),
    )


_DUCK_5GRAMS = (
    f"CASE WHEN len(toks) >= {CONTAM_NGRAM} "
    f"THEN list_distinct(list_transform(range(1, len(toks) - {CONTAM_NGRAM - 2}), "
    f"i -> array_to_string(list_slice(toks, i, i + {CONTAM_NGRAM - 1}), ' '))) "
    "ELSE [] END"
)

_DUCK_CONTAM_SQL = f"""
WITH tokd AS (
  SELECT doc_id, source, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
), grams AS (
  SELECT doc_id, source, {_DUCK_5GRAMS} AS gs FROM tokd
), bench AS (
  SELECT DISTINCT g FROM grams, unnest(gs) AS u(g) WHERE doc_id % {_BENCH_MOD} = 0
), bench_arr AS (
  SELECT list(g) AS barr FROM bench
), scored AS (
  -- cross join the 1-row benchmark array (DuckDB rejects subqueries
  -- inside list-function arguments) — same shape as Spark's broadcast
  SELECT doc_id, source, len(list_intersect(gs, barr)) AS icnt
  FROM grams, bench_arr WHERE doc_id % {_BENCH_MOD} <> 0
)
SELECT source, COUNT(*) AS docs_checked,
       CAST(SUM(CASE WHEN icnt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS contaminated_docs,
       CAST(SUM(icnt) AS BIGINT) AS contaminated_ngrams
FROM scored GROUP BY source
"""


@query("contamination_check", _DUCK_CONTAM_SQL)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    return contamination_counts(load_tables(spark, sf_dir)["documents"])


# ---------------------------------------------------------------------------
# Repetition filters (Gopher-style)
# ---------------------------------------------------------------------------

DUP_WORD_FRAC_MAX = 0.55  # flag docs whose word-dup fraction exceeds this
TOP_BIGRAM_FRAC_MAX = 0.08  # flag docs dominated by one repeated bigram

# max run length in the SORTED bigram array == max bigram multiplicity;
# fold state: (prev gram, current run, best run) — one pass, map-side
_SPARK_TOP_RUN = (
    "aggregate(array_sort(bg), "
    "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L), "
    "(acc, x) -> named_struct("
    "'prev', x, "
    "'run', IF(acc.prev IS NOT NULL AND x = acc.prev, acc.run + 1, 1L), "
    "'best', greatest(acc.best, IF(acc.prev IS NOT NULL AND x = acc.prev, acc.run + 1, 1L))), "
    "acc -> acc.best)"
)


def repetition_scores(docs: DataFrame) -> DataFrame:
    """Per-doc repetition features, all map-side: duplicate-word fraction
    (1 − distinct/total) and top-bigram fraction (multiplicity of the
    most frequent 2-gram over all 2-grams, via a sorted run-length fold
    instead of an explode→groupBy of the whole bigram relation)."""
    return (
        docs.selectExpr("doc_id", "lang", f"{_SPARK_TOKS} AS toks")
        .selectExpr(
            "doc_id",
            "lang",
            "size(toks) AS n",
            "size(array_distinct(toks)) AS nd",
            "IF(size(toks) >= 2, transform(sequence(1, size(toks) - 1), "
            "i -> concat_ws(' ', slice(toks, i, 2))), CAST(array() AS ARRAY<STRING>)) AS bg",
        )
        .selectExpr(
            "doc_id",
            "lang",
            "IF(n > 0, CAST(n - nd AS DOUBLE) / n, CAST(0.0 AS DOUBLE)) AS dup_word_frac",
            f"IF(size(bg) > 0, CAST({_SPARK_TOP_RUN} AS DOUBLE) / size(bg), CAST(0.0 AS DOUBLE))"
            " AS top_bigram_frac",
        )
    )


_DUCK_REPETITION_SQL = f"""
WITH tokd AS (
  SELECT doc_id, lang, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
), feats AS (
  SELECT doc_id, lang, len(toks) AS n, len(list_distinct(toks)) AS nd,
         CASE WHEN len(toks) >= 2
              THEN list_transform(range(1, len(toks)),
                                  i -> array_to_string(list_slice(toks, i, i + 1), ' '))
              ELSE [] END AS bg
  FROM tokd
), bgx AS (
  SELECT doc_id, u.g FROM feats, unnest(bg) AS u(g)
), top AS (
  SELECT doc_id, MAX(c) AS best, SUM(c) AS nbg FROM (
    SELECT doc_id, g, COUNT(*) AS c FROM bgx GROUP BY doc_id, g
  ) GROUP BY doc_id
), scored AS (
  SELECT f.doc_id, f.lang,
         CASE WHEN f.n > 0 THEN CAST(f.n - f.nd AS DOUBLE) / f.n ELSE 0.0 END AS dup_word_frac,
         CASE WHEN t.nbg > 0 THEN CAST(t.best AS DOUBLE) / t.nbg ELSE 0.0 END AS top_bigram_frac
  FROM feats f LEFT JOIN top t ON f.doc_id = t.doc_id
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN dup_word_frac > {DUP_WORD_FRAC_MAX} THEN 1 ELSE 0 END) AS BIGINT)
         AS flagged_dup_words,
       CAST(SUM(CASE WHEN top_bigram_frac > {TOP_BIGRAM_FRAC_MAX} THEN 1 ELSE 0 END) AS BIGINT)
         AS flagged_top_bigram,
       ROUND(AVG(dup_word_frac), 6) AS avg_dup_word_frac,
       ROUND(AVG(top_bigram_frac), 6) AS avg_top_bigram_frac
FROM scored GROUP BY lang
"""


@query("text_repetition", _DUCK_REPETITION_SQL)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language repetition report.  Thresholds compare exact int/int
    divisions — no float-boundary divergence; the AVGs are order-dependent
    float sums, rounded identically on both sides."""
    scores = repetition_scores(load_tables(spark, sf_dir)["documents"])
    return scores.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("dup_word_frac") > DUP_WORD_FRAC_MAX, 1).otherwise(0))
        .cast("bigint")
        .alias("flagged_dup_words"),
        F.sum(F.when(F.col("top_bigram_frac") > TOP_BIGRAM_FRAC_MAX, 1).otherwise(0))
        .cast("bigint")
        .alias("flagged_top_bigram"),
        F.round(F.avg("dup_word_frac"), 6).alias("avg_dup_word_frac"),
        F.round(F.avg("top_bigram_frac"), 6).alias("avg_top_bigram_frac"),
    )


# ---------------------------------------------------------------------------
# PII / blocklist scrubbing
# ---------------------------------------------------------------------------

# Java-regex ∩ RE2 common syntax only (no backrefs, no lookaround).
# Single-backslash raw strings: the Spark side passes them as F.lit
# columns (no SQL-literal escape processing); the DuckDB side embeds
# them in standard SQL literals, which keep backslashes verbatim.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"([0-9]{1,3}\.){3}[0-9]{1,3}"
PHONE_RE = r"\+?[0-9]{7,15}"
BLOCKLIST = ("key", "hash")  # stand-in for a sensitive-term list
REDACTED = "[REDACTED]"


def scrub_report(docs: DataFrame) -> DataFrame:
    """Per-source scrubbing stats: PII pattern hits (emails / IPv4 /
    phone-like digit runs) plus blocklist-term redaction and the
    resulting corpus shrinkage.  Map-only; one tiny rollup shuffle."""
    bl = ", ".join(f"'{w}'" for w in BLOCKLIST)
    return (
        docs.select(
            "source",
            # F.lit patterns: no SQL-string escape layer between the
            # Python constant and the regex engine
            F.size(F.regexp_extract_all("text", F.lit(EMAIL_RE), F.lit(0))).alias("n_emails"),
            F.size(F.regexp_extract_all("text", F.lit(IPV4_RE), F.lit(0))).alias("n_ipv4"),
            F.size(F.regexp_extract_all("text", F.lit(PHONE_RE), F.lit(0))).alias("n_phones"),
            F.expr(f"size(filter({_SPARK_TOKS}, t -> t IN ({bl})))").alias("n_blocklist"),
            F.expr(
                f"length(array_join(transform({_SPARK_TOKS}, "
                f"t -> IF(t IN ({bl}), '{REDACTED}', t)), ' '))"
            ).alias("scrubbed_chars"),
            F.length("text").alias("raw_chars"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_emails").cast("bigint").alias("emails"),
            F.sum("n_ipv4").cast("bigint").alias("ipv4s"),
            F.sum("n_phones").cast("bigint").alias("phones"),
            F.sum("n_blocklist").cast("bigint").alias("blocklist_hits"),
            F.sum("raw_chars").cast("bigint").alias("raw_chars"),
            F.sum("scrubbed_chars").cast("bigint").alias("scrubbed_chars"),
        )
    )


def _duck_scrub_sql() -> str:
    bl = ", ".join(f"'{w}'" for w in BLOCKLIST)
    return f"""
WITH scrubbed AS (
  SELECT source,
         len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
         len(regexp_extract_all(text, '{IPV4_RE}')) AS n_ipv4,
         len(regexp_extract_all(text, '{PHONE_RE}')) AS n_phones,
         len(list_filter(list_filter(string_split(text, ' '), t -> t <> ''),
                         t -> t IN ({bl}))) AS n_blocklist,
         length(array_to_string(list_transform(
           list_filter(string_split(text, ' '), t -> t <> ''),
           t -> CASE WHEN t IN ({bl}) THEN '{REDACTED}' ELSE t END), ' ')) AS scrubbed_chars,
         length(text) AS raw_chars
  FROM documents
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_emails) AS BIGINT) AS emails,
       CAST(SUM(n_ipv4) AS BIGINT) AS ipv4s,
       CAST(SUM(n_phones) AS BIGINT) AS phones,
       CAST(SUM(n_blocklist) AS BIGINT) AS blocklist_hits,
       CAST(SUM(raw_chars) AS BIGINT) AS raw_chars,
       CAST(SUM(scrubbed_chars) AS BIGINT) AS scrubbed_chars
FROM scrubbed GROUP BY source
"""


@query("pii_scrub", _duck_scrub_sql())
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scrub_report(load_tables(spark, sf_dir)["documents"])


# ---------------------------------------------------------------------------
# Mixture resampling (deterministic per-language rates)
# ---------------------------------------------------------------------------

MIXTURE_RATES: dict[str, float] = {"en": 1.0, "de": 0.5, "fr": 0.25, "es": 0.25, "zh": 0.1}
_MIX_BUCKETS = 1000


def mixture_resample(docs: DataFrame, rates: dict[str, float] | None = None) -> DataFrame:
    """Deterministic Bernoulli sampling per language: keep a doc iff its
    md5-derived bucket (0..999) < rate·1000.  Hash sampling (vs ``rand``)
    is reproducible across engines, retries, and cluster sizes — the
    property a training-data pipeline needs for auditability."""
    from ..functions.hashing import spark_hash64

    rates = MIXTURE_RATES if rates is None else rates
    rate = None
    for lang, r in sorted(rates.items()):
        c = F.when(F.col("lang") == lang, F.lit(int(r * _MIX_BUCKETS)))
        rate = c if rate is None else rate.when(F.col("lang") == lang, F.lit(int(r * _MIX_BUCKETS)))
    rate = rate.otherwise(F.lit(int(0.2 * _MIX_BUCKETS)))
    bucket = spark_hash64(F.col("doc_id").cast("string")) % _MIX_BUCKETS
    return docs.select("doc_id", "lang", "n_chars", bucket.alias("bucket"), rate.alias("cutoff"))


def _duck_mixture_sql() -> str:
    from ..functions.hashing import duck_hash64

    cases = " ".join(
        f"WHEN lang = '{lang}' THEN {int(r * _MIX_BUCKETS)}"
        for lang, r in sorted(MIXTURE_RATES.items())
    )
    return f"""
WITH tagged AS (
  SELECT doc_id, lang, n_chars,
         {duck_hash64("CAST(doc_id AS VARCHAR)")} % {_MIX_BUCKETS} AS bucket,
         CASE {cases} ELSE {int(0.2 * _MIX_BUCKETS)} END AS cutoff
  FROM documents
)
SELECT lang, COUNT(*) AS total_docs,
       CAST(SUM(CASE WHEN bucket < cutoff THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
       CAST(SUM(CASE WHEN bucket < cutoff THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
FROM tagged GROUP BY lang
"""


@query("mixture_resample", _duck_mixture_sql())
def mixture_resample_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    tagged = mixture_resample(load_tables(spark, sf_dir)["documents"])
    kept = F.col("bucket") < F.col("cutoff")
    return tagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("kept_docs"),
        F.sum(F.when(kept, F.col("n_chars")).otherwise(0)).cast("bigint").alias("kept_chars"),
    )


# ---------------------------------------------------------------------------
# Per-group quantile stats
# ---------------------------------------------------------------------------

@query(
    "quantile_stats",
    """
SELECT source, COUNT(*) AS n_docs,
       SUM(n_chars) / COUNT(*) AS avg_chars,
       ROUND(quantile_cont(n_chars, 0.5), 6) AS med_chars,
       ROUND(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
FROM documents GROUP BY source
""",
)
def quantile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length distribution.  Exact ``percentile`` so the
    DuckDB ``quantile_cont`` oracle can verify it (both interpolate
    linearly; results rounded to absorb formula-order ulps).  At 100 TB
    swap in ``approx_percentile`` — same plan shape, bounded state;
    avg_chars is an exact int-sum/int-count division, unrounded."""
    docs = load_tables(spark, sf_dir)["documents"]
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("n_chars") / F.count(F.lit(1))).alias("avg_chars"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("med_chars"),
        F.round(F.expr("percentile(n_chars, 0.9)"), 6).alias("p90_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# ---------------------------------------------------------------------------
# Document chunking: overlapping token windows (context-window prep)
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 16  # fixture docs are 8-80 tokens; real pipelines use 512-8192
CHUNK_STRIDE = 12


def _chunk_fp_sql(engine: str) -> str:
    """Per-doc chunk inventory expressed for either engine: explode the
    stride-spaced starts, slice the token window, hash its text."""
    if engine == "spark":
        return (
            f"transform(sequence(0, n - 1, {CHUNK_STRIDE}), "
            f"s -> concat_ws(' ', slice(toks, s + 1, {CHUNK_TOKENS})))"
        )
    return (
        f"list_transform(generate_series(0, n - 1, {CHUNK_STRIDE}), "
        f"s -> array_to_string(toks[s + 1 : s + {CHUNK_TOKENS}], ' '))"
    )


@query(
    "doc_chunking",
    f"""
WITH sized AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS n
  FROM documents
), chunked AS (
  SELECT doc_id, n, unnest({_chunk_fp_sql("duck")}) AS chunk_text
  FROM sized WHERE n > 0
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       bit_xor(('0x' || substr(md5(chunk_text), 1, 15))::BIGINT) AS chunks_fp,
       CAST(SUM(len(list_filter(string_split(chunk_text, ' '), t -> t <> ''))) AS BIGINT)
         AS chunk_tokens
FROM chunked GROUP BY doc_id
""",
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (size 16, stride 12) — the prep
    step that turns documents into model-context-sized training rows.

    MAP-ONLY: chunk starts, slices, and hashes all fold per row with
    higher-order functions (no explode→groupBy round trip shuffling the
    chunk relation just to regroup it by doc); the per-doc summary
    (count + order-independent bit_xor fingerprint + token total) pins
    every chunk's exact text via the md5-60bit hash while keeping output
    one row per doc.  At 100 TB this runs at scan speed."""
    docs = load_tables(spark, sf_dir)["documents"]
    chunks = "chks"
    per_chunk_hash = (
        f"transform({chunks}, c -> CAST(conv(substring(md5(c), 1, 15), 16, 10) AS BIGINT))"
    )
    per_chunk_tokens = f"transform({chunks}, c -> size(filter(split(c, ' '), t -> t != '')))"
    return (
        docs.selectExpr(
            "doc_id",
            "filter(split(text, ' '), t -> t != '') AS toks",
            "size(filter(split(text, ' '), t -> t != '')) AS n",
        )
        .filter(F.col("n") > 0)
        .selectExpr("doc_id", f"{_chunk_fp_sql('spark')} AS {chunks}")
        .selectExpr(
            "doc_id",
            f"CAST(size({chunks}) AS BIGINT) AS n_chunks",
            f"aggregate({per_chunk_hash}, 0L, (a, h) -> a ^ h) AS chunks_fp",
            f"CAST(aggregate({per_chunk_tokens}, 0L, (a, c) -> a + c) AS BIGINT) AS chunk_tokens",
        )
    )


# ---------------------------------------------------------------------------
# Sequence packing: concatenate-and-cut context assembly, sharded
# ---------------------------------------------------------------------------

PACK_CONTEXT = 512  # tokens per packed training sequence
PACK_SHARDS = 8


@query(
    "sequence_packing",
    f"""
WITH sized AS (
  SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n
  FROM documents
), packed AS (
  SELECT shard, doc_id, n,
         COALESCE(SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM sized
)
SELECT shard, CAST(cum_before // {PACK_CONTEXT} AS BIGINT) AS seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS first_doc,
       CAST(SUM(n) AS BIGINT) AS n_tokens
FROM packed GROUP BY shard, CAST(cum_before // {PACK_CONTEXT} AS BIGINT)
""",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-cut sequence packing: docs stream in doc_id order
    within a shard, the running token count is cut every PACK_CONTEXT
    tokens, and each doc is assigned the sequence its first token lands
    in — how GPT-style training data is actually packed.

    SHARDED on doc_id % 8 so the running-sum window is partitioned
    (each worker packs its own shard independently; contrast a global
    ORDER BY window that funnels the corpus through one reducer — the
    text_vocabulary lesson from round 1).  All-integer arithmetic; the
    summary is one row per packed sequence."""
    docs = load_tables(spark, sf_dir)["documents"]
    sized = docs.selectExpr(
        "doc_id",
        f"doc_id % {PACK_SHARDS} AS shard",
        "CAST(size(filter(split(text, ' '), t -> t != '')) AS BIGINT) AS n",
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = sized.withColumn("cum_before", F.coalesce(F.sum("n").over(w), F.lit(0)))
    return (
        packed.withColumn("seq_id", F.expr(f"cum_before DIV {PACK_CONTEXT}"))
        .groupBy("shard", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.sum("n").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Per-source capping (domain balancing)
# ---------------------------------------------------------------------------

SOURCE_CAP = 15  # max docs kept per source (fixture: 20 sources x 25 docs)


@query(
    "source_cap",
    f"""
WITH ranked AS (
  SELECT source, doc_id, n_chars,
         CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id)
              AS INTEGER) AS rn
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (WHERE rn <= {SOURCE_CAP}) AS BIGINT) AS n_kept,
       CAST(COUNT(*) FILTER (WHERE rn > {SOURCE_CAP}) AS BIGINT) AS n_dropped,
       CAST(SUM(n_chars) FILTER (WHERE rn <= {SOURCE_CAP}) AS BIGINT) AS kept_chars
FROM ranked GROUP BY source
""",
)
def source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain balancing: cap each source (domain) at SOURCE_CAP docs,
    keeping the longest first — the Common-Crawl-style guard against one
    domain dominating the mixture.

    One source-keyed window (rank within source by n_chars DESC, doc_id
    tie-break) + the per-source rollup reuses the same partitioning, so
    the whole operator is a single shuffle.  A pathologically hot domain
    is exactly the AQE skew-join/partition-split case; the cap itself is
    what REMOVES the skew from every downstream stage — this runs first
    in a real pipeline for that reason."""
    docs = load_tables(spark, sf_dir)["documents"]
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    ranked = docs.select("source", "doc_id", "n_chars").withColumn(
        "rn", F.row_number().over(w)
    )
    kept = F.col("rn") <= SOURCE_CAP
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(kept, 1)).alias("n_kept"),
        F.count(F.when(~kept, 1)).alias("n_dropped"),
        F.sum(F.when(kept, F.col("n_chars"))).alias("kept_chars"),
    )


# ---------------------------------------------------------------------------
# Curriculum binning (quality-ordered quartiles per language)
# ---------------------------------------------------------------------------

CURRICULUM_BINS = 4


@query(
    "curriculum_binning",
    f"""
WITH scored AS (
  SELECT doc_id, lang, n_chars,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_toks
  FROM documents
), binned AS (
  SELECT lang, doc_id, n_toks,
         CAST(NTILE({CURRICULUM_BINS}) OVER (PARTITION BY lang ORDER BY n_toks, doc_id)
              AS INTEGER) AS bin
  FROM scored
)
SELECT lang, bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(n_toks) AS min_toks,
       MAX(n_toks) AS max_toks,
       CAST(SUM(n_toks) AS BIGINT) AS sum_toks
FROM binned GROUP BY lang, bin
""",
)
def curriculum_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum construction: per-language quality quartiles (proxy
    score = token count) so training can schedule easy→hard within each
    language.  NTILE is made deterministic by the (score, doc_id)
    tie-break — required for a cross-engine value match.

    Scale note: NTILE over a language partition funnels that language
    through one reducer; at 100 TB swap the window for approx_percentile
    bin THRESHOLDS (same output schema, map-side binning) — the exact
    window stays here because it is oracle-checkable bit-for-bit."""
    docs = load_tables(spark, sf_dir)["documents"]
    scored = docs.selectExpr(
        "doc_id",
        "lang",
        "CAST(size(filter(split(text, ' '), t -> t != '')) AS BIGINT) AS n_toks",
    )
    w = Window.partitionBy("lang").orderBy("n_toks", "doc_id")
    binned = scored.withColumn("bin", F.ntile(CURRICULUM_BINS).over(w))
    return binned.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_toks").alias("min_toks"),
        F.max("n_toks").alias("max_toks"),
        F.sum("n_toks").alias("sum_toks"),
    )


# ---------------------------------------------------------------------------
# Winsorization (outlier clamping) of a metric column
# ---------------------------------------------------------------------------

WINSOR_LO, WINSOR_HI = 0.05, 0.99


@query(
    "winsorize_values",
    f"""
WITH bounds AS (
  SELECT event_type,
         quantile_cont(value, {WINSOR_LO}) AS lo,
         quantile_cont(value, {WINSOR_HI}) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(*) FILTER (WHERE e.value < b.lo) AS BIGINT) AS n_clipped_low,
       CAST(COUNT(*) FILTER (WHERE e.value > b.hi) AS BIGINT) AS n_clipped_high,
       ROUND(SUM(LEAST(GREATEST(e.value, b.lo), b.hi)), 2) AS winsorized_sum
FROM events e JOIN bounds b ON e.event_type = b.event_type
GROUP BY e.event_type
""",
)
def winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier clamping for a metric column: exact per-type p05/p99
    bounds, values clamped into [lo, hi], clip counts reported — the
    robust-statistics step before any mean-based normalization.

    Plan: the bounds aggregate produces one row per event_type (tiny) →
    broadcast hash join back onto the events scan; clamping is map-side.
    Spark's ``percentile`` and DuckDB's ``quantile_cont`` share the
    linear-interpolation definition (parity proven by quantile_stats);
    clip-count comparisons are exact double comparisons of identical
    values, so no boundary row can flip.  Only the order-dependent SUM
    of clamped doubles is rounded.  At 100 TB: approx_percentile
    swap-in, same shape."""
    ev = load_tables(spark, sf_dir)["events"]
    bounds = ev.groupBy("event_type").agg(
        F.expr(f"percentile(value, {WINSOR_LO})").alias("lo"),
        F.expr(f"percentile(value, {WINSOR_HI})").alias("hi"),
    )
    joined = ev.join(F.broadcast(bounds), "event_type")
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(F.col("value") < F.col("lo"), 1)).alias("n_clipped_low"),
        F.count(F.when(F.col("value") > F.col("hi"), 1)).alias("n_clipped_high"),
        F.round(
            F.sum(F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))), 2
        ).alias("winsorized_sum"),
    )


# ---------------------------------------------------------------------------
# Approximate quantiles — the stated 100 TB swap-in, bounded-error-checked
# ---------------------------------------------------------------------------

APPROX_PCT_ACC = 1000  # KLL/GK accuracy: rank error <= 1/1000


@query(
    "approx_quantiles",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(quantile_cont(value, 0.5), 6) AS exact_p50,
       ROUND(quantile_cont(value, 0.95), 6) AS exact_p95,
       TRUE AS p50_within, TRUE AS p95_within
FROM events GROUP BY event_type
""",
)
def approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approximate-percentile path every exact-quantile op in this
    repo names as its 100 TB swap-in, verified the honest way: sketch
    estimates differ between engines, so (like ``approx_distinct``) the
    oracle checks a BOUNDED-RANK invariant instead of the estimate.
    ``approx_percentile(p, acc)`` returns an actual element whose RANK
    is within n/acc of n·p, so the check counts elements ≤/< the
    estimate and bounds those counts (±1 element of slack for the
    discrete boundary — an interpolated-quantile bound is WRONG at
    small n, where the exact quantile falls between elements).  The
    booleans ride the driver's value hash (oracle side literal TRUE);
    exact p50/p95 are emitted alongside and hash-matched for real
    (Spark ``percentile`` ≡ DuckDB ``quantile_cont``).

    Plan: sketch + exact quantiles in one grouped pass → 1-row-per-type
    broadcast back onto the scan for the rank counts — the same
    verify-against-the-data shape as the CMS heavy-hitter check."""
    ev = load_tables(spark, sf_dir)["events"]
    est = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"approx_percentile(value, 0.5, {APPROX_PCT_ACC})").alias("a50"),
        F.expr(f"approx_percentile(value, 0.95, {APPROX_PCT_ACC})").alias("a95"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("exact_p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("exact_p95"),
    )
    joined = ev.select("event_type", "value").join(F.broadcast(est), "event_type")

    def within(p: float, a: str) -> F.Column:
        nn = F.first("n")  # group-constant (one est row per event_type)
        slack = nn / APPROX_PCT_ACC + 1
        le = F.count(F.when(F.col("value") <= F.col(a), 1))
        lt = F.count(F.when(F.col("value") < F.col(a), 1))
        return (le >= nn * p - slack) & (lt <= nn * p + slack)

    return (
        joined.groupBy("event_type")
        .agg(
            F.first("n").alias("n"),
            F.first("exact_p50").alias("exact_p50"),
            F.first("exact_p95").alias("exact_p95"),
            within(0.5, "a50").alias("p50_within"),
            within(0.95, "a95").alias("p95_within"),
        )
        .select("event_type", "n", "exact_p50", "exact_p95", "p50_within", "p95_within")
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split
# ---------------------------------------------------------------------------

SPLIT_BUCKETS = 100
SPLIT_TRAIN, SPLIT_VAL = 90, 95  # bucket < 90 train, < 95 val, else test


def dataset_split(docs: DataFrame) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment: split =
    f(md5(doc_id)) — stable across engines, runs, cluster sizes, and
    data order, so a doc NEVER migrates between splits when the corpus
    is re-processed (the leakage guarantee a rand()-based split cannot
    give).  Map-only + one tiny rollup."""
    from ..functions.hashing import spark_hash64

    bucket = spark_hash64(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % SPLIT_BUCKETS
    split = (
        F.when(bucket < SPLIT_TRAIN, F.lit("train"))
        .when(bucket < SPLIT_VAL, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select("lang", "n_chars", split.alias("split"))
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
    )


def _duck_split_sql() -> str:
    from ..functions.hashing import duck_hash64

    h = duck_hash64("'split:' || CAST(doc_id AS VARCHAR)")
    b = f"{h} % {SPLIT_BUCKETS}"
    return f"""
WITH tagged AS (
  SELECT lang, n_chars,
         CASE WHEN {b} < {SPLIT_TRAIN} THEN 'train'
              WHEN {b} < {SPLIT_VAL} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT lang, split, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars
FROM tagged GROUP BY lang, split
"""


query("dataset_split", _duck_split_sql())(
    lambda spark, sf_dir: dataset_split(load_tables(spark, sf_dir)["documents"])
)


# ---------------------------------------------------------------------------
# Token-budget sampling (data mixing under a budget)
# ---------------------------------------------------------------------------

TOKEN_BUDGET = 4000  # per-language token budget


def token_budget_sample(docs: DataFrame, budget: int = TOKEN_BUDGET) -> DataFrame:
    """Budget-constrained sampling: per language, docs are taken in a
    deterministic hash order until the token budget fills (the data-
    mixing primitive — 'give me ~N tokens of each language, stably').
    A doc is kept iff the running token total BEFORE it is under budget,
    so the sample overshoots by at most one doc — the same
    cut-on-running-sum semantics as sequence packing.

    One language-keyed window shuffle; everything else is map-side.  At
    100 TB the window is per-language (bounded groups); a hot language
    can additionally shard on a hash prefix with per-shard sub-budgets
    (the sequence_packing pattern)."""
    from ..functions.hashing import spark_hash64

    sized = docs.select(
        "doc_id",
        "lang",
        F.expr(
            "CAST(size(filter(split(text, ' '), t -> t != '')) AS BIGINT)"
        ).alias("n_toks"),
        spark_hash64(F.concat(F.lit("budget:"), F.col("doc_id").cast("string"))).alias("h"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = sized.withColumn("cum_before", F.coalesce(F.sum("n_toks").over(w), F.lit(0)))
    kept = F.col("cum_before") < budget
    return cum.groupBy("lang").agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.count(F.when(kept, 1)).alias("kept_docs"),
        F.sum(F.when(kept, F.col("n_toks"))).cast("bigint").alias("kept_tokens"),
    )


def _duck_budget_sql() -> str:
    from ..functions.hashing import duck_hash64

    h = duck_hash64("'budget:' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH sized AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_toks,
         {h} AS h
  FROM documents
), cum AS (
  SELECT lang, n_toks,
         COALESCE(SUM(n_toks) OVER (PARTITION BY lang ORDER BY h, doc_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM sized
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS total_docs,
       CAST(COUNT(*) FILTER (WHERE cum_before < {TOKEN_BUDGET}) AS BIGINT) AS kept_docs,
       CAST(SUM(n_toks) FILTER (WHERE cum_before < {TOKEN_BUDGET}) AS BIGINT) AS kept_tokens
FROM cum GROUP BY lang
"""


query("token_budget_sample", _duck_budget_sql())(
    lambda spark, sf_dir: token_budget_sample(load_tables(spark, sf_dir)["documents"])
)


# ---------------------------------------------------------------------------
# Robust statistics: median absolute deviation
# ---------------------------------------------------------------------------


@query(
    "robust_stats_mad",
    """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(ANY_VALUE(m.med), 6) AS median_value,
       ROUND(quantile_cont(ABS(e.value - m.med), 0.5), 6) AS mad,
       CAST(COUNT(*) FILTER (WHERE ABS(e.value - m.med)
            > 3 * 1.4826 * (SELECT quantile_cont(ABS(e2.value - m2.med), 0.5)
                            FROM events e2 JOIN med m2 ON e2.event_type = m2.event_type
                            WHERE e2.event_type = e.event_type)) AS BIGINT) AS n_outliers
FROM events e JOIN med m ON e.event_type = m.event_type
GROUP BY e.event_type
""",
)
def robust_stats_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per event_type + the classic
    3·1.4826·MAD outlier count (the robust z-score) — the outlier
    detector that, unlike mean/stddev, is not dragged by the outliers it
    is hunting.

    Plan: median per type (tiny) → broadcast back onto the scan →
    second grouped pass computes MAD and the outlier count in ONE
    aggregation (the outlier threshold re-derives MAD inline via the
    same exact percentile, so no third pass over the data).  Exact
    ``percentile`` both passes; at 100 TB swap approx_percentile, same
    two-pass shape."""
    ev = load_tables(spark, sf_dir)["events"]
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    stats = dev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.first("med"), 6).alias("median_value"),
        F.round(F.expr("percentile(adev, 0.5)"), 6).alias("mad"),
        F.expr("percentile(adev, 0.5)").alias("__mad_exact"),
    )
    out = (
        dev.join(F.broadcast(stats.select("event_type", "__mad_exact")), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(
                F.when(F.col("adev") > 3 * 1.4826 * F.col("__mad_exact"), 1)
            ).alias("n_outliers")
        )
    )
    return (
        stats.drop("__mad_exact")
        .join(out, "event_type")
        .select("event_type", "n", "median_value", "mad", "n_outliers")
    )


# ---------------------------------------------------------------------------
# training-shard manifest: deterministic output sharding + balance audit
# ---------------------------------------------------------------------------

N_SHARDS = 16


@query(
    "shard_manifest",
    f"""
WITH assigned AS (
  SELECT {duck_hash64("doc_id::VARCHAR")} % {N_SHARDS} AS shard,
         doc_id,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS toks
  FROM documents
), per_shard AS (
  SELECT shard,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(toks) AS BIGINT) AS n_tokens,
         MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
  FROM assigned GROUP BY shard
), tot AS (
  SELECT SUM(n_tokens) AS total_tokens FROM per_shard
)
SELECT p.shard, p.n_docs, p.n_tokens, p.min_doc, p.max_doc,
       p.n_tokens * {N_SHARDS} / t.total_tokens AS balance_ratio
FROM per_shard p, tot t
""",
)
def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment + balance audit: docs map
    to one of N_SHARDS (=16) output shards by the 60-bit md5 of their id (the
    SAME assignment on any engine, any cluster size, any run — the
    property that makes shard contents reproducible across rebuilds),
    and the manifest reports per-shard doc/token totals plus the
    token-balance ratio (ideal = 1.0; the md5 scatter keeps worst-case
    skew ~√(1/n) so no shard straggles the data-loader).  At scale this
    is the accounting side of `df.write.partitionBy(shard)` — the
    manifest a training job reads instead of listing files.  One rollup
    over an N_SHARDS-row key space; balance_ratio is int·int / int —
    a single IEEE division, bit-exact cross-engine."""
    docs = load_tables(spark, sf_dir)["documents"]
    assigned = docs.select(
        (spark_hash64(F.col("doc_id").cast("string")) % N_SHARDS).alias("shard"),
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda t: t != "")).alias("toks"),
    )
    per_shard = assigned.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("toks").cast("bigint").alias("n_tokens"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )
    tot = per_shard.agg(F.sum("n_tokens").alias("total_tokens"))
    return (
        per_shard.join(F.broadcast(tot))
        .select(
            "shard",
            "n_docs",
            "n_tokens",
            "min_doc",
            "max_doc",
            (F.col("n_tokens") * N_SHARDS / F.col("total_tokens")).alias("balance_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus version diff (snapshot comparison by content hash)
# ---------------------------------------------------------------------------

# deterministic synthetic "v2" of the corpus for the registered demo:
# doc_id % 7 == 0 removed; surviving doc_id % 11 == 0 edited;
# doc_id % 13 == 0 re-added as a new doc at doc_id + 10^9
VERSION_DROP_MOD, VERSION_EDIT_MOD, VERSION_ADD_MOD = 7, 11, 13
VERSION_ADD_OFFSET = 1_000_000_000


def corpus_version_diff(v1: DataFrame, v2: DataFrame) -> DataFrame:
    """Snapshot diff between two corpus versions by CONTENT hash — the
    audit a training pipeline runs before retraining on a refreshed
    crawl: how many docs were added / removed / changed / unchanged,
    per language.  Diffing by md5(text) (not by row equality) means a
    re-crawl that re-orders or re-partitions the corpus reports zero
    churn, and an edited doc counts as changed, not as one add plus one
    remove.

    Physical shape: one doc_id-keyed full-outer join (sort-merge at
    scale; both sides project to (doc_id, md5, lang) map-side first, so
    the shuffle carries ~50 bytes/doc, never text) and a langs×4-row
    rollup.  For nightly diffs at 100 TB, store both snapshots bucketed
    by doc_id and the join is shuffle-free."""
    a = v1.select(
        "doc_id", F.md5("text").alias("h1"), F.col("lang").alias("lang1")
    )
    b = v2.select(
        "doc_id", F.md5("text").alias("h2"), F.col("lang").alias("lang2")
    )
    status = (
        F.when(F.col("h2").isNull(), F.lit("removed"))
        .when(F.col("h1").isNull(), F.lit("added"))
        .when(F.col("h1") != F.col("h2"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        a.join(b, "doc_id", "full_outer")
        .select(F.coalesce("lang1", "lang2").alias("lang"), status.alias("status"))
        .groupBy("lang", "status")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


def synthetic_v2(docs: DataFrame) -> DataFrame:
    """The deterministic refreshed-corpus stand-in the registered demo
    diffs against (drop %7, edit %11, add %13 at +10^9)."""
    survivors = docs.filter(F.col("doc_id") % VERSION_DROP_MOD != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % VERSION_EDIT_MOD == 0,
            F.concat(F.col("text"), F.lit(" rev2")),
        ).otherwise(F.col("text")).alias("text"),
        "lang",
    )
    added = docs.filter(F.col("doc_id") % VERSION_ADD_MOD == 0).select(
        (F.col("doc_id") + VERSION_ADD_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" new")).alias("text"),
        "lang",
    )
    return survivors.unionByName(added)


_DUCK_VERSION_DIFF = f"""
WITH v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % {VERSION_EDIT_MOD} = 0 THEN text || ' rev2' ELSE text END AS text,
         lang
  FROM documents WHERE doc_id % {VERSION_DROP_MOD} <> 0
  UNION ALL
  SELECT doc_id + {VERSION_ADD_OFFSET}, text || ' new', lang
  FROM documents WHERE doc_id % {VERSION_ADD_MOD} = 0
), a AS (SELECT doc_id, md5(text) AS h1, lang AS lang1 FROM documents),
b AS (SELECT doc_id, md5(text) AS h2, lang AS lang2 FROM v2)
SELECT COALESCE(lang1, lang2) AS lang,
       CASE WHEN h2 IS NULL THEN 'removed'
            WHEN h1 IS NULL THEN 'added'
            WHEN h1 <> h2 THEN 'changed'
            ELSE 'unchanged' END AS status,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM a FULL OUTER JOIN b USING (doc_id)
GROUP BY 1, 2
"""


@query("corpus_version_diff", _DUCK_VERSION_DIFF)
def corpus_version_diff_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return corpus_version_diff(docs, synthetic_v2(docs))


# ---------------------------------------------------------------------------
# Small-files compaction roundtrip (table maintenance, lossless by oracle)
# ---------------------------------------------------------------------------

COMPACT_TARGET_ROWS = 100_000
_CHECKSUM_MOD = 1_000_000_007


def _content_checksum_cols():
    """Per-group (n_docs, content_checksum): the checksum is a SUM of
    60-bit md5 hashes mod a prime, reduced mod the prime AGAIN after the
    sum — exact integer math both engines, any lost/duplicated/altered
    doc changes it, and the outer pmod keeps the value bounded so a
    ~1e10-row group can't wrap Spark's BIGINT sum (DuckDB's HUGEINT sum
    would instead error on the BIGINT cast — divergent failure modes)."""
    from ..functions.hashing import spark_hash64

    return [
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.pmod(
            F.sum(spark_hash64(F.col("text")) % _CHECKSUM_MOD),
            F.lit(_CHECKSUM_MOD),
        )
        .cast("bigint")
        .alias("content_checksum"),
    ]


_DUCK_COMPACTION_SQL = f"""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(('0x' || substr(md5(text), 1, 15))::BIGINT % {_CHECKSUM_MOD})
              % {_CHECKSUM_MOD} AS BIGINT)
         AS content_checksum
FROM documents
GROUP BY lang
"""


@query("compaction_roundtrip", _DUCK_COMPACTION_SQL)
def compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction, proven LOSSLESS end-to-end: scatter the
    documents table into 64 deliberately-tiny files (the accreted
    streaming-sink state), compact with
    :func:`..sources.files.compact_parquet`, then report per-language
    counts and content checksums FROM THE COMPACTED COPY — the oracle
    computes the same from the original table, so any row lost,
    duplicated, or corrupted by the rewrite hash-mismatches.  The file
    counts themselves are pinned by ``TestCompaction``."""
    import os

    from ..sources.files import compact_parquet

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text", "lang")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    base = os.path.join(warehouse.removeprefix("file:"), "kafquack_compaction")
    small = os.path.join(base, "small")
    compacted = os.path.join(base, "compacted")
    docs.repartition(64).write.mode("overwrite").parquet(small)
    compact_parquet(spark.read.parquet(small), compacted, COMPACT_TARGET_ROWS)
    return (
        spark.read.parquet(compacted)
        .groupBy("lang")
        .agg(*_content_checksum_cols())
    )


# ---------------------------------------------------------------------------
# Padding-efficiency report: pad-to-context waste vs packed lower bound
# ---------------------------------------------------------------------------

PAD_CONTEXT = 64  # fixture docs are 8-80 tokens; real pipelines use 512-8192


@query(
    "padding_efficiency",
    f"""
WITH sized AS (
  SELECT lang,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n,
         CAST((len(list_filter(string_split(text, ' '), t -> t <> '')) + {PAD_CONTEXT - 1})
              // {PAD_CONTEXT} AS BIGINT) AS chunks
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS total_tokens,
       CAST(SUM(chunks) AS BIGINT) AS padded_chunks,
       CAST(SUM(chunks) * {PAD_CONTEXT} - SUM(n) AS BIGINT) AS padding_tokens,
       (SUM(chunks) * {PAD_CONTEXT} - SUM(n)) / (SUM(chunks) * {PAD_CONTEXT}) AS pad_frac,
       CAST((SUM(n) + {PAD_CONTEXT - 1}) // {PAD_CONTEXT} AS BIGINT) AS packed_chunks,
       CAST(SUM(chunks) - (SUM(n) + {PAD_CONTEXT - 1}) // {PAD_CONTEXT} AS BIGINT) AS saved_chunks
FROM sized GROUP BY lang
""",
)
def padding_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pad-to-context waste audit: per language, the padding bill of
    one-doc-per-sequence batching (each doc padded up to the next
    PAD_CONTEXT multiple) against the concatenate-and-pack lower bound
    (``sequence_packing``'s layout) — the report that justifies turning
    packing on, and sizes the token budget either way.

    All-integer arithmetic (ceil via ``(n + L-1) DIV L``); the single
    ``pad_frac`` quotient is one exact BIGINT/BIGINT IEEE division,
    bit-identical cross-engine unrounded.  Physical shape: one map-side
    token count per doc + one partial+final groupBy on ~languages keys
    — the cost is the parquet scan at any corpus size."""
    docs = load_tables(spark, sf_dir)["documents"]
    L = PAD_CONTEXT
    sized = docs.selectExpr(
        "lang",
        "CAST(size(filter(split(text, ' '), t -> t != '')) AS BIGINT) AS n",
        f"CAST((size(filter(split(text, ' '), t -> t != '')) + {L - 1}) DIV {L} AS BIGINT) AS chunks",
    )
    agg = sized.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("total_tokens"),
        F.sum("chunks").alias("padded_chunks"),
    )
    return agg.selectExpr(
        "lang",
        "n_docs",
        "total_tokens",
        "padded_chunks",
        f"padded_chunks * {L} - total_tokens AS padding_tokens",
        f"(padded_chunks * {L} - total_tokens) / (padded_chunks * {L}) AS pad_frac",
        f"(total_tokens + {L - 1}) DIV {L} AS packed_chunks",
        f"padded_chunks - (total_tokens + {L - 1}) DIV {L} AS saved_chunks",
    )


# ---------------------------------------------------------------------------
# fuzzy decontamination: MinHash-LSH near-match vs the benchmark slice
# ---------------------------------------------------------------------------

FUZZY_CONTAM_THRESHOLD = 0.5   # looser than dedup's 0.6: paraphrased or
                               # partially-quoted benchmark items still leak
FUZZY_BENCH_MOD = 7            # a LARGER held-out slice than exact
                               # contamination's % 97: the fixture's near-dup
                               # clusters must straddle the boundary at every
                               # SF for the near-match path to be exercised
                               # (with % 97 the sf0.01 result is empty — a
                               # trivially-green gate row proves nothing)


def ensure_fuzzy_bench_store(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (at most once per context) the benchmark-side state the
    streaming fuzzy-decontamination gate probes (r11 verdict item 6):

    * the benchmark band signatures ``(bench_id, band_sig)`` BUCKETED on
      ``band_sig`` — the per-batch probe join is then bucket-served on
      the store side (only arriving rows shuffle), instead of
      re-deriving and re-planning the benchmark relation every batch;
    * the benchmark shingle sets ``(bench_id, t2, n2)`` BUCKETED on
      ``bench_id`` — the exact-Jaccard verify joins candidates against
      it one-sided.

    Mirrors :func:`..operators.dedup.ensure_incremental_store`'s design
    (two single-key bucketed tables, joins keyed on exactly the bucket
    column); the benchmark side is fixed-size at 100 TB, so this store
    is small — bucketing it is about join planning stability, not
    memory.  Same memo contract as the incremental store: the benchmark
    index is a scheduled, fixed-size artifact (the benchmark suite
    changes when a new eval ships, not per ingest) — steady-state
    decontamination batches only pay the stored reads."""
    import os
    import shutil

    from ..sources.files import write_bucketed
    from .dedup import _incr_store_tag, minhash_bands, minhash_sig_sets

    def build():
        tag = _incr_store_tag(sf_dir)
        bands_table = f"kafquack_fuzzy_bench_bands_{tag}"
        sets_table = f"kafquack_fuzzy_bench_sets_{tag}"
        warehouse = spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")
        docs = load_tables(spark, sf_dir)["documents"]
        bench = docs.filter(F.col("doc_id") % FUZZY_BENCH_MOD == 0)
        bsig = minhash_sig_sets(bench)
        bands = minhash_bands(bsig).select(
            F.col("doc_id").alias("bench_id"), "band_sig"
        )
        sets_df = bsig.select(
            F.col("doc_id").alias("bench_id"),
            F.col("stoks").alias("t2"),
            F.col("n").alias("n2"),
        )
        for tbl, df, key in (
            (bands_table, bands, "band_sig"),
            (sets_table, sets_df, "bench_id"),
        ):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            shutil.rmtree(os.path.join(warehouse, tbl.lower()), ignore_errors=True)
            write_bucketed(df, tbl, key)
        return bands_table, sets_table

    return derived.get_or_build("fuzzy_bench_store", spark, sf_dir, build)


def fuzzy_contamination(docs: DataFrame) -> DataFrame:
    """Fuzzy train/test decontamination: corpus docs whose shingle-set
    Jaccard against ANY benchmark-slice doc (doc_id % FUZZY_BENCH_MOD == 0) reaches
    ``FUZZY_CONTAM_THRESHOLD`` — the near-match complement to
    :func:`contamination_counts`'s exact n-gram overlap (a paraphrased
    or lightly-edited benchmark item shares few exact 5-grams but keeps
    most of its 3-gram shingle set; fuzzy matching is how GPT-3-style
    decontamination is actually run).

    Physical shape: ONE map-only signature pass over the whole corpus
    (the shared persisted relation), then a banded corpus×benchmark
    join with the BENCHMARK side broadcast — the correct direction at
    100 TB, where the corpus grows and the benchmark suite is fixed
    thousands of docs.  No bucket cap is needed on this join (unlike
    the self-join): a hot band bucket fans out row-locally inside the
    broadcast hash probe — no shuffle skew, no straggler task.  The
    exact verify joins the candidate relation and the broadcast
    benchmark sets back to the corpus-side sig scan; the per-source
    rollup joins the flagged ids to the documents scan.  Only the
    benchmark-derived relations (``bench_bands``, ``b2``) carry
    ``F.broadcast`` hints — they are bounded by the fixed benchmark
    slice at any corpus size.  ``cand`` and ``per_doc`` grow with
    corpus size × contamination density, so their joins are left to
    AQE's runtime-size decision (same rationale as
    ``containment_pairs``, whose forced candidate broadcast OOM'd the
    16× scaling probe).  Jaccard stays a single int/int IEEE division;
    ``max()`` over exact doubles is exact — nothing rounded."""
    from .dedup import _persisted_sig_sets, minhash_bands

    sig = _persisted_sig_sets(docs)
    bands = minhash_bands(sig)
    bench_bands = bands.filter(F.col("doc_id") % FUZZY_BENCH_MOD == 0).select(
        F.col("doc_id").alias("bench_id"), "band", "band_sig"
    )
    corpus_bands = bands.filter(F.col("doc_id") % FUZZY_BENCH_MOD != 0)
    cand = (
        corpus_bands.join(F.broadcast(bench_bands), ["band", "band_sig"])
        .select("doc_id", "bench_id")
        .distinct()
    )
    c1 = sig.select("doc_id", F.col("stoks").alias("t1"), F.col("n").alias("n1"))
    b2 = sig.filter(F.col("doc_id") % FUZZY_BENCH_MOD == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.col("stoks").alias("t2"),
        F.col("n").alias("n2"),
    )
    flagged = (
        c1.join(cand, "doc_id")
        .join(F.broadcast(b2), "bench_id")
        .select(
            "doc_id",
            "bench_id",
            (
                F.size(F.array_intersect("t1", "t2"))
                / (F.col("n1") + F.col("n2") - F.size(F.array_intersect("t1", "t2")))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= FUZZY_CONTAM_THRESHOLD)
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bench_matches"),
        F.max("jaccard").alias("max_jaccard"),
    )
    return (
        per_doc
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("contaminated_docs"),
            F.sum("n_bench_matches").cast("bigint").alias("n_pairs"),
            F.max("max_jaccard").alias("max_jaccard"),
        )
    )


def _duck_fuzzy_contamination_sql() -> str:
    from .dedup import _duck_band_ctes

    return f"""{_duck_band_ctes()}, cand AS (
  SELECT DISTINCT a.doc_id, b.doc_id AS bench_id
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig
  WHERE a.doc_id % {FUZZY_BENCH_MOD} <> 0 AND b.doc_id % {FUZZY_BENCH_MOD} = 0
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM tokh GROUP BY doc_id
), inter AS (
  SELECT c.doc_id, c.bench_id, COUNT(*) AS icnt
  FROM cand c
  JOIN tokh t1 ON t1.doc_id = c.doc_id
  JOIN tokh t2 ON t2.doc_id = c.bench_id AND t2.h = t1.h
  GROUP BY c.doc_id, c.bench_id
), flagged AS (
  SELECT i.doc_id, i.bench_id,
         icnt::DOUBLE / (s1.n + s2.n - icnt) AS jaccard
  FROM inter i
  JOIN sizes s1 ON s1.doc_id = i.doc_id
  JOIN sizes s2 ON s2.doc_id = i.bench_id
  WHERE icnt::DOUBLE / (s1.n + s2.n - icnt) >= {FUZZY_CONTAM_THRESHOLD}
), per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bench_matches,
         MAX(jaccard) AS max_jaccard
  FROM flagged GROUP BY doc_id
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS contaminated_docs,
       CAST(SUM(p.n_bench_matches) AS BIGINT) AS n_pairs,
       MAX(p.max_jaccard) AS max_jaccard
FROM per_doc p JOIN documents d USING (doc_id)
GROUP BY d.source
"""


@query("fuzzy_contamination", _duck_fuzzy_contamination_sql())
def fuzzy_contamination_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fuzzy_contamination(load_tables(spark, sf_dir)["documents"])


# ---------------------------------------------------------------------------
# URL/host-level dedup signal (r12 verdict item 8)
# ---------------------------------------------------------------------------

#: hosts per source in the synthetic URL fixture — the fixture has no
#: URL column, so the registered query synthesizes a deterministic
#: messy URL per doc (scheme / WWW. / mixed-case host / port variants)
#: and the operator does the REAL normalization work on it
HOST_MOD = 23


def synth_url(doc_id: "F.Column | str" = "doc_id", source: str = "source"):
    """Deterministic messy URL from (source, doc_id): alternating
    scheme, an occasional ``WWW.`` prefix, a MiXeD-case host, and an
    occasional explicit port — every variant a real crawl presents and
    host normalization must collapse."""
    d = F.col(doc_id) if isinstance(doc_id, str) else doc_id
    return F.concat(
        F.when(d % 2 == 0, F.lit("https://")).otherwise(F.lit("http://")),
        F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col(source), F.lit("-"), (d % HOST_MOD).cast("string"),
        F.lit(".Example.COM"),
        F.when(d % 5 == 0, F.lit(":8080")).otherwise(F.lit("")),
        F.lit("/p/"), d.cast("string"),
    )


def normalize_host(url):
    """Canonical host of a URL: authority extracted, lower-cased, port
    stripped, leading ``www.`` stripped — the key a host-level dedup
    groups on (``https://WWW.A.com:8080/x`` ≡ ``http://a.com/y``)."""
    return F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_extract(url, r"^[a-zA-Z]+://([^/]+)", 1)),
            r":[0-9]+$",
            "",
        ),
        r"^www\.",
        "",
    )


def host_dedup_report(docs: DataFrame) -> DataFrame:
    """Per-HOST dedup/boilerplate report — the standard pretraining
    crawl-curation signal the suite lacked (r12 verdict item 8): a
    template-driven site shows up as (a) many pages whose NORMALIZED
    text collapses to few distinct keys (intra-host exact duplication)
    and (b) word-3-grams shared by most of the host's pages (nav bars,
    cookie banners) that should be stripped before corpus-wide LSH.

    Output per host, ALL-INTEGER (no float drifts cross-engine):
    ``n_docs``, ``n_dup_docs`` (docs in a ≥2-sized same-key group —
    within the host only; cross-host template reuse is the
    `cross_source_dup_matrix` family's job), ``n_uniq_keys``, and
    ``n_boiler_grams`` (distinct 3-grams on ≥2 docs AND ≥half the
    host's docs — an integer frontier ``2·df ≥ n_docs``, no float
    ceil).

    Scale shape: the dedup key is one map-side md5 of the
    whitespace-collapsed lower-cased text; grams are per-doc DISTINCT
    HOF arrays exploded straight into a map-side-combined (host, gram)
    count (the `boilerplate_phrases` shape, host-scoped); the
    boiler-threshold join keys on ``host`` — hosts are corpus-scaled
    at 100 TB (millions), so the join is UNHINTED and AQE picks the
    strategy.  No collect, no window, output is one row per host."""
    h = docs.withColumn("url", synth_url()).select(
        "doc_id", "text", normalize_host("url").alias("host")
    )
    key = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    kc = (
        h.select("host", key.alias("k"))
        .groupBy("host", "k")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    hostrep = kc.groupBy("host").agg(
        F.sum("cnt").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("cnt") >= 2, F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_dup_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_uniq_keys"),
    )
    g3 = (
        "CASE WHEN size(toks) >= 3 THEN array_distinct(transform("
        "sequence(1, size(toks) - 2), i -> array_join(slice(toks, i, 3), ' '))) "
        "ELSE array() END"
    )
    gr = h.select(
        "host", F.expr("filter(split(text, ' '), t -> t != '')").alias("toks")
    ).select("host", F.explode(F.expr(g3)).alias("g"))
    gdf = gr.groupBy("host", "g").agg(F.count(F.lit(1)).alias("df"))
    boiler = (
        gdf.join(hostrep.select("host", "n_docs"), "host")
        .filter((F.col("df") >= 2) & (F.col("df") * 2 >= F.col("n_docs")))
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_boiler_grams"))
    )
    return hostrep.join(boiler, "host", "left").select(
        "host",
        "n_docs",
        "n_dup_docs",
        "n_uniq_keys",
        F.coalesce("n_boiler_grams", F.lit(0)).cast("bigint").alias("n_boiler_grams"),
    )


_DUCK_HOST_DEDUP_SQL = f"""
WITH u AS (
  SELECT doc_id, text,
    (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END)
    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
    || source || '-' || (doc_id % {HOST_MOD}) || '.Example.COM'
    || (CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END)
    || '/p/' || doc_id AS url
  FROM documents
), h AS (
  SELECT doc_id, text,
    regexp_replace(regexp_replace(lower(regexp_extract(url, '^[a-zA-Z]+://([^/]+)', 1)),
                                  ':[0-9]+$', ''), '^www\\.', '') AS host
  FROM u
), kc AS (
  SELECT host, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS k,
         COUNT(*) AS cnt
  FROM h GROUP BY 1, 2
), hostrep AS (
  SELECT host, CAST(SUM(cnt) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS n_dup_docs,
         CAST(COUNT(*) AS BIGINT) AS n_uniq_keys
  FROM kc GROUP BY 1
), tokd AS (
  SELECT host, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM h
), gr AS (
  SELECT host, unnest(CASE WHEN len(toks) >= 3 THEN
      list_distinct(list_transform(range(1, len(toks) - 1),
        i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
    ELSE []::VARCHAR[] END) AS g
  FROM tokd
), gdf AS (
  SELECT host, g, COUNT(*) AS df FROM gr GROUP BY 1, 2
), boiler AS (
  SELECT d.host, CAST(COUNT(*) AS BIGINT) AS n_boiler_grams
  FROM gdf d JOIN hostrep r ON d.host = r.host
  WHERE d.df >= 2 AND d.df * 2 >= r.n_docs
  GROUP BY 1
)
SELECT r.host, r.n_docs, r.n_dup_docs, r.n_uniq_keys,
       CAST(COALESCE(b.n_boiler_grams, 0) AS BIGINT) AS n_boiler_grams
FROM hostrep r LEFT JOIN boiler b ON r.host = b.host
"""


@query("host_dedup_report", _DUCK_HOST_DEDUP_SQL)
def host_dedup_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return host_dedup_report(load_tables(spark, sf_dir)["documents"])
