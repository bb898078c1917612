"""Corpus-level training-data diagnostics (round-4 additions, registered
after every earlier query — see ``plans/registry.py:_load_all``).

Three operators a 100 TB pre-training pipeline runs corpus-wide:

- ``text_unigram_surprisal`` — CCNet-style unigram-LM quality scoring,
  libm-free: instead of log-probabilities (whose last ulp differs between
  engines' libm), each token carries the ORDER OF MAGNITUDE of its training
  frequency — ``length(CAST(count AS STRING))`` is an exact, engine-neutral
  ``floor(log10(count)) + 1``.  Mean magnitude ≈ fluency, OOV rate ≈
  noise/contamination; both are the bucketed signals CCNet actually
  thresholds on (head/middle/tail), without a single transcendental.
- ``pipeline_tokenizer_fertility`` — BPE-ish tokens per whitespace word by
  (lang, source): the multilingual data-mix metric that decides how many
  TRAINING tokens a corpus slice really contributes (high-fertility
  languages consume context budget faster).
- ``text_contamination_matrix`` — cross-source 3-shingle Jaccard overlap
  matrix: which sources recycle which (mirror-site detection, benchmark
  bleed, dedup-priority planning) — the corpus-level rollup of the
  pairwise dedup path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_spark_streaming_eval_spark.catalog import table
from kafka_spark_streaming_eval_spark.operators.dedup import shingle_rows
from kafka_spark_streaming_eval_spark.plans.registry import register
from kafka_spark_streaming_eval_spark.session import prep

LM_TRAIN_SOURCE = "src0"  # the unigram LM's training slice

# Shared tokenization: lowercased whitespace tokens, empties dropped —
# identical higher-order filter on both engines.
_TOKS_SQL = "list_filter(string_split(lower(text), ' '), t -> t <> '')"
_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"  # text_token_count's BPE-ish classes


def _tokens(docs: DataFrame, *carry: str) -> DataFrame:
    toks = F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
    return docs.select(*carry, F.explode(toks).alias("word"))


@register(
    "text_unigram_surprisal",
    "text-analysis",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS word FROM documents
    ),
    lm AS (
      SELECT word, length(CAST(count(*) AS VARCHAR)) AS freq_mag
      FROM (SELECT unnest({_TOKS_SQL}) AS word
            FROM documents WHERE source = '{LM_TRAIN_SOURCE}')
      GROUP BY word
    )
    SELECT t.doc_id,
           count(*) AS n_tokens,
           round(count(*) FILTER (WHERE lm.word IS NULL) * 1.0
                 / count(*), 6) AS oov_rate,
           round(CAST(sum(COALESCE(lm.freq_mag, 0)) AS BIGINT) * 1.0
                 / count(*), 6) AS mean_freq_magnitude
    FROM toks t LEFT JOIN lm ON t.word = lm.word
    GROUP BY t.doc_id
    """,
)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scoring without logarithms: train token counts on
    the `{LM_TRAIN_SOURCE}` slice, score EVERY document by (a) OOV rate and
    (b) mean order-of-magnitude of its tokens' training frequencies
    (digit-length of the count — an exact floor(log10)+1 with no libm in
    either engine, the round-3 lesson behind lift-not-PMI and rational
    idf).  Low magnitude + high OOV = the tail CCNet's perplexity filter
    drops.

    Plan: the LM is one map-side-combinable word count; scoring is one
    keyed LEFT JOIN tokens⨝vocab plus a per-doc aggregation.  The join is
    deliberately NOT broadcast-hinted: a 100 TB corpus has a ~1e8-row
    vocabulary (gigabytes) — the keyed shuffle join IS the scale plan, and
    AQE will broadcast it anyway when the vocab is small."""
    prep(spark)
    d = table(spark, sf_dir, "documents")
    lm = (
        _tokens(d.where(F.col("source") == LM_TRAIN_SOURCE), "doc_id")
        .groupBy("word")
        .agg(F.length(F.count(F.lit(1)).cast("string")).alias("freq_mag"))
    )
    toks = _tokens(d, "doc_id")
    n = F.count(F.lit(1))
    return (
        toks.join(lm, "word", "left")
        .groupBy("doc_id")
        .agg(
            n.alias("n_tokens"),
            F.round(F.count_if(F.col("freq_mag").isNull()) * 1.0 / n, 6).alias(
                "oov_rate"
            ),
            F.round(
                F.sum(F.coalesce("freq_mag", F.lit(0))).cast("long") * 1.0 / n, 6
            ).alias("mean_freq_magnitude"),
        )
    )


@register(
    "pipeline_tokenizer_fertility",
    "pipeline",
    oracle=f"""
    SELECT lang, source,
           CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
           CAST(sum(n_ws) AS BIGINT) AS ws_tokens,
           round(CAST(sum(n_bpe) AS BIGINT) * 1.0
                 / NULLIF(CAST(sum(n_ws) AS BIGINT), 0), 6) AS fertility
    FROM (
      SELECT lang, source,
             len(regexp_extract_all(text, '{_BPE_RE}')) AS n_bpe,
             len({_TOKS_SQL}) AS n_ws
      FROM documents
    )
    GROUP BY lang, source
    """,
)
def pipeline_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility (BPE-ish tokens per whitespace word) by
    (lang, source) — the data-mix accounting that converts corpus words
    into actual context-window consumption; high-fertility slices cost
    proportionally more training budget than their word counts suggest.
    Integer sums + one rational division: exact on both engines.

    Plan: two map-side regex/size projections, one ~100-group aggregation
    — a single corpus scan at any scale."""
    prep(spark)
    d = table(spark, sf_dir, "documents")
    n_bpe = F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), 0))
    n_ws = F.size(F.filter(F.split(F.lower("text"), " "), lambda t: t != ""))
    return (
        d.select("lang", "source", n_bpe.alias("n_bpe"), n_ws.alias("n_ws"))
        .groupBy("lang", "source")
        .agg(
            F.sum("n_bpe").cast("long").alias("bpe_tokens"),
            F.sum("n_ws").cast("long").alias("ws_tokens"),
            # 0/0 guard: a (lang, source) group of all-whitespace docs would be
            # NULL in non-ANSI Spark but NaN under DuckDB IEEE float division —
            # both engines must emit NULL (NULLIF in the oracle).
            F.when(
                F.sum("n_ws") > 0,
                F.round(
                    F.sum("n_bpe").cast("long") * 1.0 / F.sum("n_ws").cast("long"),
                    6,
                ),
            ).alias("fertility"),
        )
    )


@register(
    "text_contamination_matrix",
    "text-analysis",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT source, unnest(
        list_transform(generate_series(1, len(string_split(lower(text),' ')) - 2),
                       i -> string_split(lower(text),' ')[i] || ' ' ||
                            string_split(lower(text),' ')[i+1] || ' ' ||
                            string_split(lower(text),' ')[i+2])
      ) AS sh
      FROM documents
    ),
    sizes AS (SELECT source, count(*) AS sz FROM sh GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b, i.n_shared,
           sa.sz AS size_a, sb.sz AS size_b,
           round(i.n_shared * 1.0 / (sa.sz + sb.sz - i.n_shared), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    """,
)
def text_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination rollup: 3-shingle Jaccard overlap for
    every source pair that shares at least one shingle (zero-overlap pairs
    are absent by construction on both engines).  This is the corpus-level
    view the dedup pipeline's pairwise path can't give: which SOURCES
    recycle which (mirror sites, benchmark bleed), and therefore where
    dedup/decontamination effort buys the most.

    Plan: ONE keyed aggregation — ``groupBy(sh).collect_set(source)``
    (collect_set partial-aggregates map-side and dedups, so the former
    separate distinct is folded in) — then the per-shingle source pairs
    explode from the sorted set array-side and reduce to a pair count.
    r15 (guide §2.4): this replaces the earlier distinct + self-equi-join
    on the shingle key, deleting the pair join and two corpus-sized
    subtree evaluations (the old plan computed the distinct three times —
    both join sides + the sizes branch; measured 1.41 → 1.11 s quiet at
    sf0.1, Exchange 10 → 8, BroadcastHashJoin 3 → 2 — see plans/r15).
    Per-shingle fan-out is still bounded by the SOURCE count (set ≤
    |sources|, ≤ C(20,2) pair rows per shingle), so pair rows are
    |shingles| × a small constant — keyed, skew-bounded, no cartesian
    anywhere."""
    prep(spark)
    d = table(spark, sf_dir, "documents")
    per_sh = (
        shingle_rows(d, carry=("source",))
        .groupBy("sh")
        .agg(F.array_sort(F.collect_set("source")).alias("ss"))
    )
    # distinct shingles per source == one row per (sh, source) set member
    sizes = (
        per_sh.select(F.explode("ss").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    # ordered pairs (ss[i], ss[j]) with i < j: ascending array_sort makes
    # this exactly the source_a < source_b condition of the former join
    pairs_arr = F.expr(
        "flatten(transform(ss, (x, i) -> "
        "transform(slice(ss, i + 2, size(ss)), "
        "y -> struct(x AS source_a, y AS source_b))))"
    )
    inter = (
        per_sh.select(F.explode(pairs_arr).alias("p"))
        .select("p.source_a", "p.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("sz").alias("size_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("sz").alias("size_b"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "size_a",
            "size_b",
            F.round(
                F.col("n_shared")
                * 1.0
                / (F.col("size_a") + F.col("size_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )
