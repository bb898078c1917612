"""Corpus-curation operators.

Thirteen operators a 100 TB pre-training curation pipeline runs between raw
ingest and the training mix, completing the LLM-data and lakehouse blocks:

- ``stream_incremental_contamination`` — the STREAMING form of round-4's
  ``text_contamination_matrix``: documents arrive in micro-batches and are
  checked against a static benchmark-shingle set as they land, so
  contamination is caught at ingest time instead of by a corpus-wide
  batch job (the unification of the corpus-diagnostics and streaming
  blocks suggested by VERDICT r4 item 8).
- ``pipeline_dsir_importance`` — DSIR-style data selection (Xie et al.
  2023, "Data Selection for Language Models via Importance Resampling"):
  hashed-bigram importance weights p_target/p_raw per document, entirely
  in rational/IEEE-exact arithmetic (no logs — the engine's standing
  libm-free determinism contract).
- ``sim_semantic_dedup`` — SemDeDup-style semantic deduplication (Abbas
  et al. 2023): within each embedding cluster, near-duplicate pairs above
  a cosine threshold drop the member closer to the centroid (keep the
  most peripheral = most informative exemplar), reported as per-cluster
  keep/drop accounting.
- ``dedup_cdc_chunks`` — FastCDC-style content-defined chunking at token
  granularity: offset-invariant chunk boundaries expose content shared
  between partially-overlapping documents (boilerplate, quoted replies),
  the sub-document dedup signal whole-doc hashing misses.
- ``join_bloom_prefilter`` — declarative Bloom-filter semi-join
  reduction: the map-side fact-table prefilter that avoids shuffling a
  fact table against a filtered dimension, with the false-positive rate
  measured in-query.
- ``text_quality_classifier`` — fastText-style hashed-feature linear
  quality scorer (the CCNet / GPT-3 quality-filter shape) evaluated
  entirely map-side with deterministic md5-derived weights.
- ``pipeline_domain_cap`` — C4-style per-domain document cap: bound any
  single domain's share of the training mix via the two-level
  (domain, md5-shard) cap-then-recap (head-domain skew-proof),
  reporting kept/dropped mass per source.
- ``window_ewma_exact`` — exponentially-weighted moving average with
  EXACT rational weights (alpha = 1/4, 8-term horizon, weights summing
  to exactly 16384/16384) — the time-decayed feature column computed
  without float ``pow`` so it is bit-identical cross-engine.
- ``agg_incremental_merge`` — algebraic partial-state maintenance: per-
  slice (count, decimal-sum, min, max) states merged and PROVEN equal to
  the direct full-table aggregate in-query — the mergeable-state
  contract that lets 100 TB aggregations run incrementally (the general
  form of ``agg_hll_partitioned_merge``'s sketch merge).
- ``pipeline_priority_sample`` — Duffield-Lund-Thorup weighted priority
  sampling: the reproducible token-weighted corpus sampler (u/w ranking,
  per-source top-k) data-mixing pipelines use instead of seeded
  ``sample()``.
- ``profile_partition_skew`` — pre-shuffle partition-skew audit: the
  per-reducer row/key/heaviest-key ledger that decides salting vs AQE
  skew-split before a big shuffle runs.
- ``join_asof_attribution`` — the scalable TWO-relation as-of join
  (union + window, one shuffle, no UDF): last-touch attribution of each
  click to the latest at-or-before view.
- ``quality_mad_outliers`` — median-absolute-deviation robust outlier
  detection: the quality-filter statistic whose threshold the outliers
  themselves cannot drag.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from kafka_spark_streaming_eval_spark.catalog import table, table_rows
from kafka_spark_streaming_eval_spark.operators.dedup import shingle_rows
from kafka_spark_streaming_eval_spark.plans.registry import register
from kafka_spark_streaming_eval_spark.session import iter_checkpoint, prep

BENCH_SOURCE = "src1"  # the held-out benchmark slice the stream is checked against
DSIR_TARGET_SOURCE = "src0"  # DSIR's target-domain slice (same as the LM slice)
DSIR_BUCKETS = 256  # hashed-feature space: two md5 hex digits
SEMDEDUP_TAU = 0.40  # within-cluster cosine above this = semantic duplicate

# 3-shingle array SQL shared with operators/corpus.py's oracles
_SH_SQL = """
    list_transform(generate_series(1, len(string_split(lower(text),' ')) - 2),
                   i -> string_split(lower(text),' ')[i] || ' ' ||
                        string_split(lower(text),' ')[i+1] || ' ' ||
                        string_split(lower(text),' ')[i+2])
"""

# md5-derived 8-bit feature bucket, identical text in both engines: two hex
# digits via strpos-in-alphabet (the pipeline.py md5-shard pattern widened to
# 256 buckets; no from_hex/conv dialect differences can creep in).
_HEX = "0123456789abcdef"


def _bucket_sql(expr: str) -> str:
    return (
        f"(instr('{_HEX}', substr(md5({expr}), 1, 1)) - 1) * 16 + "
        f"instr('{_HEX}', substr(md5({expr}), 2, 1)) - 1"
    )


@register(
    "stream_incremental_contamination",
    "streaming",
    oracle=f"""
    WITH bench AS (
      SELECT DISTINCT unnest({_SH_SQL}) AS sh
      FROM documents WHERE source = '{BENCH_SOURCE}'
    ),
    stream_sh AS (
      SELECT source, doc_id, unnest(list_distinct({_SH_SQL})) AS sh
      FROM documents WHERE source <> '{BENCH_SOURCE}'
    )
    SELECT s.source,
           count(DISTINCT s.doc_id) AS n_docs_contaminated,
           count(*) AS n_shingle_hits
    FROM stream_sh s JOIN bench b ON s.sh = b.sh
    GROUP BY s.source
    """,
)
def stream_incremental_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time benchmark decontamination, executed BY THE STREAMING
    ENGINE: documents arrive in 2 micro-batches (``file_stream``'s 4
    splits, two per trigger) and each batch's per-doc DISTINCT 3-shingles
    join a static benchmark shingle set (source `src1`) as they
    land — the streaming form of ``text_contamination_matrix``, catching
    benchmark bleed before a document ever reaches the training mix.

    A document is one source row, so its shingle set is complete within
    its own micro-batch: ``array_distinct`` BEFORE the explode keeps the
    per-doc dedup stateless, the stream-static join is broadcast
    (benchmark shingle sets are small by construction), and the only
    stateful operator is the final (source, doc_id) counting aggregate.
    The per-source rollup (distinct contaminated docs — a DISTINCT
    aggregate streaming state can't do in one pass) runs as a batch agg
    over the drained result table.  The oracle is the identical batch SQL
    — batch/stream equivalence for the ingest-decontamination path.

    Scale: static side ~|benchmark shingles| rows broadcast once per
    micro-batch; stream side is map-only until the keyed counting agg —
    state is O(contaminated docs), not O(corpus)."""
    from kafka_spark_streaming_eval_spark.streaming.queries import (
        _run_to_table,
        _stream_session,
        file_stream,
    )

    # Isolated session for the stream (ADVICE r14): state-store partition
    # sizing lives on its own SQLConf instead of a set/run/restore on the
    # shared session.  The static side below is built on it too — the
    # cache is SparkContext-shared, so nothing changes operationally.
    spark = _stream_session(spark, table_rows(sf_dir, "documents"))

    # The static side (benchmark shingle index) is CACHED for the stream's
    # lifetime: a stream-static join re-evaluates the static plan every
    # micro-batch, and re-tokenizing the benchmark slice 4x tripled this
    # query's wall time.  In production the index is a precomputed table;
    # the cache is the local[N] stand-in, dropped once the stream drains.
    # spread=False (r15): same shape as text_source_vocab_overlap — the
    # scan feeds a distinct whose exchange re-spreads anyway, and only the
    # 1/|sources| benchmark slice survives the filter; interleaved A/B of
    # the index build: 0.25 s no-spread vs 0.34-0.43 s spread at BOTH 8
    # and 32 cores (the spread also made this build core-count-sensitive).
    bench = (
        shingle_rows(
            table(spark, sf_dir, "documents", spread=False).where(
                F.col("source") == BENCH_SOURCE
            )
        )
        .select("sh")
        .distinct()
        .cache()
    )
    try:
        bench.count()  # materialize before the first trigger

        # 2 files per trigger (VERDICT r14 item 5): the bounded replay's
        # per-micro-batch cost is planning + state load/commit, which at
        # sf0.1 dominates the map work — its 8->32-core ratio was 0.84
        # (scheduling grows with cores).  Halving the batch count from 4 to
        # 2 keeps the exhibit genuinely incremental (two stateful commits,
        # batch 2 updating batch 1's complete-mode state) and was
        # interleaved-A/B-measured at ~2x on the stream segment (3.26 s ->
        # 1.87 s best-of-4 under equal weather; identical output rows).
        stream = file_stream(
            spark, sf_dir, "documents", splits=4, max_files=2
        ).where(F.col("source") != BENCH_SOURCE)
        # Materialize the token array BEFORE the transform lambda: an inline
        # expression would re-evaluate split(lower(text)) on every element
        # access — O(tokens^2) per document (the shingle_rows contract).
        toks = F.col("_t")
        sh_arr = F.when(
            F.size(toks) >= 3,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - 3),
                lambda i: F.concat_ws(" ", toks[i], toks[i + 1], toks[i + 2]),
            ),
        ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
        # NOT spread: a per-batch repartition before the map was A/B-tested
        # in r14 (the streaming analogue of session.spread_small_scan) and
        # LOST — 4.0 s -> 5.7 s at quiet steal; a 1250-doc micro-batch's
        # single-task map is cheaper than 4x (exchange + 32-task stage
        # scheduling) per trigger.
        stream_sh = stream.select(
            "source", "doc_id", F.split(F.lower("text"), " ").alias("_t")
        ).select("source", "doc_id", F.explode(F.array_distinct(sh_arr)).alias("sh"))
        per_doc = (
            stream_sh.join(F.broadcast(bench), "sh")
            .groupBy("source", "doc_id")
            .agg(F.count(F.lit(1)).alias("hits"))
        )
        out = _run_to_table(per_doc, "complete")
    finally:
        bench.unpersist()
    return out.groupBy("source").agg(
        F.count_distinct("doc_id").alias("n_docs_contaminated"),
        F.sum("hits").cast("long").alias("n_shingle_hits"),
    )


@register(
    "pipeline_dsir_importance",
    "pipeline",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id, source, {_bucket_sql("bg")} AS bucket
      FROM (
        SELECT doc_id, source,
               unnest(list_transform(
                 generate_series(1, len(toks) - 1),
                 i -> toks[i] || chr(31) || toks[i+1])) AS bg
        FROM (SELECT doc_id, source,
                     list_filter(string_split(lower(text), ' '), t -> t <> '')
                       AS toks
              FROM documents)
      )
    ),
    hist AS (
      SELECT bucket,
             count(*) AS r_b,
             count(*) FILTER (WHERE source = '{DSIR_TARGET_SOURCE}') AS t_b
      FROM feats GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(sum(r_b) AS BIGINT) AS big_r,
             CAST(sum(t_b) AS BIGINT) AS big_t
      FROM hist
    )
    SELECT f.doc_id,
           count(*) AS n_feats,
           CAST(sum(CAST(floor(
             1e6 * (CAST(h.t_b AS DOUBLE) / CAST(h.r_b AS DOUBLE))
                 * (CAST(tot.big_r AS DOUBLE) / CAST(tot.big_t AS DOUBLE))
           ) AS BIGINT)) AS BIGINT) AS lift_q_sum,
           CAST(sum(CAST(floor(
             1e6 * (CAST(h.t_b AS DOUBLE) / CAST(h.r_b AS DOUBLE))
                 * (CAST(tot.big_r AS DOUBLE) / CAST(tot.big_t AS DOUBLE))
           ) AS BIGINT)) AS DOUBLE) / count(*) AS importance
    FROM feats f JOIN hist h USING (bucket) CROSS JOIN tot
    GROUP BY f.doc_id
    """,
)
def pipeline_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights for data selection: every document is
    scored by how much more often its hashed bigram features occur in the
    target-domain slice (source `src0`) than in the raw
    corpus — the importance-resampling statistic that upsamples
    target-like documents when composing a training mix.

    Libm-free determinism: the classical score is sum(log p_t(b)/p_r(b));
    this engine emits the equivalent rational form — per feature,
    lift = (t_b / r_b) * (R / T) where t_b/r_b are the bucket's
    target/raw counts and T/R the totals.  Every division and product is
    a single exactly-rounded IEEE double op on exact integers (bit-equal
    on both engines), quantized ``floor(lift * 1e6)`` per feature and
    summed as BIGINT (order-independent), with the final mean an exact
    BIGINT/COUNT division — no rounding anywhere, so the hash can't
    drift.  Features are two-md5-hex-digit buckets (256) of the bigram —
    the same engine-neutral md5 hashing as pipeline.py's shards.

    Plan: ONE corpus scan.  The per-(doc, bucket) feature table's shuffle
    is computed once and reused (ReusedExchange) by the histogram branch;
    the totals are an all-rows window over the 256-row histogram itself
    (NOT a detached agg branch, which Catalyst re-derives with fresh
    expression IDs and pays a second full corpus scan+explode — the r7
    measured fix); the enriched histogram (r_b, t_b, big_r, big_t) is
    broadcast back (map-only enrichment) and one (doc_id) aggregation
    finishes.  The DSIR trick is exactly that the feature space, not the
    corpus, bounds the model."""
    prep(spark)
    d = table(spark, sf_dir, "documents")
    # Materialize the filtered token array BEFORE the transform lambda —
    # inlining it would re-run filter(split(lower(text))) per element
    # access, O(tokens^2) per document (this cost 4 of this query's first
    # 5.5 bench seconds before the projection).
    toks = F.col("_t")
    bg_arr = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat(toks[i], F.lit("\x1f"), toks[i + 1]),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
    # One explosion total: collapse to per-(doc, bucket) multiplicities k
    # FIRST, then everything downstream (256-row histogram, 1-row totals,
    # the enrichment join, the per-doc agg) runs over |docs| x <=256 rows
    # instead of every bigram occurrence.  sum over occurrences of the
    # quantized per-bucket lift == k * lift_q exactly, so the collapse
    # changes cost, not bits.
    docfeat = (
        d.select(
            "doc_id",
            "source",
            F.filter(F.split(F.lower("text"), " "), lambda t: t != "").alias("_t"),
        )
        .select("doc_id", "source", F.explode(bg_arr).alias("bg"))
        .select(
            "doc_id",
            "source",
            (
                (F.expr(f"instr('{_HEX}', substr(md5(bg), 1, 1))") - 1) * 16
                + F.expr(f"instr('{_HEX}', substr(md5(bg), 2, 1))")
                - 1
            ).alias("bucket"),
        )
        .groupBy("doc_id", "source", "bucket")
        .agg(F.count(F.lit(1)).alias("k"))
        # Materialize ONCE: both the histogram branch and the scoring join
        # read this (the unigram-LM shape's shared feature table).  Without
        # it, Catalyst's exchange reuse only covers one of the two extra
        # derivations and the executed plan re-scans + re-explodes the whole
        # corpus (measured r7: 2 FileScans).  |docs| x <=256 rows — far
        # smaller than the corpus; at 100 TB this is the standard
        # persist-the-feature-table step, local to executors.
    )
    docfeat = iter_checkpoint(docfeat)
    hist = docfeat.groupBy("bucket").agg(
        F.sum("k").cast("long").alias("r_b"),
        F.sum(F.when(F.col("source") == DSIR_TARGET_SOURCE, F.col("k")).otherwise(0))
        .cast("long")
        .alias("t_b"),
    )
    # Totals as an unpartitioned window over the 256-row histogram — NOT a
    # separate hist.agg() branch: Catalyst re-derives a detached tot branch
    # with fresh expression IDs, defeating exchange reuse, and the executed
    # plan then scans + explodes the WHOLE corpus a second time to compute a
    # 1-row total (measured r7: 2 FileScans -> 1, ~1/3 of the query's wall
    # at 30x scale).  An all-rows window on <=256 rows is a single tiny
    # task, legitimate despite the global-window rule of thumb.
    wall = W.partitionBy()
    hist = hist.select(
        "bucket",
        "r_b",
        "t_b",
        F.sum("r_b").over(wall).cast("long").alias("big_r"),
        F.sum("t_b").over(wall).cast("long").alias("big_t"),
    )
    lift_q = F.floor(
        F.lit(1e6)
        * (F.col("t_b").cast("double") / F.col("r_b").cast("double"))
        * (F.col("big_r").cast("double") / F.col("big_t").cast("double"))
    ).cast("long")
    return (
        docfeat.join(F.broadcast(hist), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_feats"),
            F.sum(F.col("k") * lift_q).cast("long").alias("lift_q_sum"),
            (
                F.sum(F.col("k") * lift_q).cast("double")
                / F.sum("k").cast("double")
            ).alias("importance"),
        )
    )


@register(
    "sim_semantic_dedup",
    "similarity",
    oracle=f"""
    WITH dims AS (
      SELECT unnest(generate_series(
        1, (SELECT max(len(embedding)) FROM embeddings))) AS i
    ),
    ex AS (
      SELECT e.vec_id, e.label, d.i AS dim,
             CAST(e.embedding[d.i] AS DOUBLE) AS x
      FROM embeddings e, dims d
      WHERE d.i <= len(e.embedding)
    ),
    cent AS (
      SELECT label, dim,
             CAST(sum(CAST(floor(x * 1e9) AS BIGINT)) AS DOUBLE) / 1e9
               / count(*) AS c
      FROM ex GROUP BY label, dim
    ),
    cnorm AS (
      SELECT label,
             sqrt(CAST(sum(CAST(floor(c * c * 1e12) AS BIGINT)) AS DOUBLE)
                  / 1e12) AS cn
      FROM cent GROUP BY label
    ),
    vnorm AS (
      SELECT vec_id,
             sqrt(CAST(sum(CAST(floor(x * x * 1e12) AS BIGINT)) AS DOUBLE)
                  / 1e12) AS vn
      FROM ex GROUP BY vec_id
    ),
    cosc AS (
      SELECT d.vec_id,
             round(d.dp / (v.vn * c.cn), 6) AS cos_c
      FROM (
        SELECT ex.vec_id,
               CAST(sum(CAST(floor(ex.x * cent.c * 1e12) AS BIGINT)) AS DOUBLE)
                 / 1e12 AS dp
        FROM ex JOIN cent ON ex.dim = cent.dim AND ex.label = cent.label
        GROUP BY ex.vec_id
      ) d JOIN vnorm v USING (vec_id)
        JOIN (SELECT e2.vec_id, cn.cn FROM embeddings e2
              JOIN cnorm cn ON e2.label = cn.label) c USING (vec_id)
    ),
    ranked AS (
      SELECT e.vec_id, e.label,
             row_number() OVER (PARTITION BY e.label
                                ORDER BY k.cos_c ASC, e.vec_id) AS keep_rank
      FROM embeddings e JOIN cosc k USING (vec_id)
    ),
    v AS (
      SELECT vec_id, label, embedding,
             sqrt(list_reduce(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                  (a, b) -> a + b)) AS nrm
      FROM embeddings
    ),
    dropped AS (
      SELECT DISTINCT
             CASE WHEN ra.keep_rank > rb.keep_rank THEN a.vec_id
                  ELSE b.vec_id END AS vec_id,
             a.label
      FROM v a
      JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
      JOIN ranked ra ON ra.vec_id = a.vec_id
      JOIN ranked rb ON rb.vec_id = b.vec_id
      WHERE list_reduce(list_transform(generate_series(1, len(a.embedding)),
              i -> CAST(a.embedding[i] AS DOUBLE)
                   * CAST(b.embedding[i] AS DOUBLE)),
            (x, y) -> x + y) / (a.nrm * b.nrm) > {SEMDEDUP_TAU}
    )
    SELECT e.label,
           count(*) AS n_members,
           CAST(count(d.vec_id) AS BIGINT) AS n_dropped,
           CAST(count(*) - count(d.vec_id) AS BIGINT) AS n_kept
    FROM embeddings e LEFT JOIN dropped d ON e.vec_id = d.vec_id
    GROUP BY e.label
    """,
)
def sim_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication accounting: within each
    embedding cluster (the label column — at 100 TB the assignment of a
    coarse k-means quantizer, as in ``sim_ivf_topk``), member pairs with
    cosine > 0.40 (SEMDEDUP_TAU) are semantic duplicates; the pair member
    CLOSER to the cluster centroid is dropped (SemDeDup keeps the most
    peripheral exemplar — it carries the most marginal information).
    Output is the per-cluster keep/drop ledger the curation pipeline acts
    on.

    Determinism: centroids/norms/centroid-cosines use the floor-grid
    quantized sums of ``sim_centroid_confusion`` (order-independent
    BIGINT accumulation); the keep-rank is a 6-dp-rounded cosine with a
    vec_id tie-break; PAIRWISE cosines are sequential left-folds over the
    fixed-order embedding arrays (``F.aggregate`` ≡ DuckDB list_reduce,
    bit-identical — the dedup_embedding_neardup contract), so the > τ
    comparison sees the same bits on both engines.

    Plan: centroid build is a (label, dim) agg broadcast back; the
    pairwise stage is a label-bucketed self-join — never all-pairs
    across clusters.  At 100 TB cluster count scales with corpus size
    (k ∝ n), holding members-per-cluster bounded, which is exactly
    SemDeDup's published cost model; the dropped-set is distinct-keyed
    by vec_id so the ledger join moves ids, not vectors.

    spread=False (VERDICT r14 item 3): same shape as sim_centroid_confusion
    — posexplode straight into the centroid aggregation; the spread's extra
    full-vector exchange cost 0.48 s -> 0.58 s at sf0.1 (8->32-core ratio
    1.08: overhead-bound)."""
    prep(spark)
    e = table(spark, sf_dir, "embeddings", spread=False)
    ex = e.select("vec_id", "label", F.posexplode("embedding").alias("pos", "xf")).select(
        "vec_id",
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.col("xf").cast("double").alias("x"),
    )
    cent = ex.groupBy("label", "dim").agg(
        (
            F.sum(F.floor(F.col("x") * 1e9)).cast("double")
            / F.lit(1e9)
            / F.count(F.lit(1))
        ).alias("c")
    )
    cnorm = cent.groupBy("label").agg(
        F.sqrt(
            F.sum(F.floor(F.col("c") * F.col("c") * 1e12)).cast("double") / F.lit(1e12)
        ).alias("cn")
    )
    vnorm = ex.groupBy("vec_id").agg(
        F.sqrt(
            F.sum(F.floor(F.col("x") * F.col("x") * 1e12)).cast("double") / F.lit(1e12)
        ).alias("vn")
    )
    dots = (
        ex.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id")
        .agg(
            (
                F.sum(F.floor(F.col("x") * F.col("c") * 1e12)).cast("double")
                / F.lit(1e12)
            ).alias("dp")
        )
    )
    cosc = (
        dots.join(vnorm, "vec_id")
        .join(e.select("vec_id", "label"), "vec_id")
        .join(F.broadcast(cnorm), "label")
        .select("vec_id", "label", F.round(F.col("dp") / (F.col("vn") * F.col("cn")), 6).alias("cos_c"))
    )
    ranked = cosc.select(
        "vec_id",
        "label",
        F.row_number()
        .over(W.partitionBy("label").orderBy(F.col("cos_c").asc(), "vec_id"))
        .alias("keep_rank"),
    )

    def fold_dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    nrm = F.sqrt(
        F.aggregate(
            F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    # A branch-selective spread of ONLY this norm fold (the one heavy-map
    # consumer in the query) was A/B-tested r15 and declined: it improves
    # full materialization (noop 2.93 s -> 2.30 s interleaved at sf0.1) but
    # regresses the bench's count action by ~0.3-0.4 s (the pairwise branch
    # is not fully pruned from count, so the extra exchange is paid), and
    # on any multi-split production scan the spread is a no-op anyway.
    v = e.select("vec_id", "label", "embedding", nrm.alias("nrm"))
    a = v.select(
        F.col("vec_id").alias("a_id"),
        "label",
        F.col("embedding").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
    )
    b = v.select(
        F.col("vec_id").alias("b_id"),
        "label",
        F.col("embedding").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    pairs = a.join(b, "label").where(F.col("a_id") < F.col("b_id"))
    dup_pairs = pairs.where(
        fold_dot(F.col("a_emb"), F.col("b_emb")) / (F.col("a_nrm") * F.col("b_nrm"))
        > SEMDEDUP_TAU
    ).select("label", "a_id", "b_id")
    ra = ranked.select(F.col("vec_id").alias("a_id"), F.col("keep_rank").alias("a_rank"))
    rb = ranked.select(F.col("vec_id").alias("b_id"), F.col("keep_rank").alias("b_rank"))
    dropped = (
        dup_pairs.join(F.broadcast(ra), "a_id")
        .join(F.broadcast(rb), "b_id")
        .select(
            "label",
            F.when(F.col("a_rank") > F.col("b_rank"), F.col("a_id"))
            .otherwise(F.col("b_id"))
            .alias("vec_id"),
        )
        .distinct()
    )
    return (
        e.select("vec_id", "label")
        .join(dropped.select("vec_id", F.lit(1).alias("_d")), "vec_id", "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.count("_d").cast("long").alias("n_dropped"),
            (F.count(F.lit(1)) - F.count("_d")).cast("long").alias("n_kept"),
        )
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (sub-document dedup)
# ---------------------------------------------------------------------------

CDC_MOD = 8  # expected chunk length in tokens (boundary prob 1/8)


@register(
    "dedup_cdc_chunks",
    "dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    bounds AS (
      SELECT doc_id, source, t, n,
             list_filter(generate_series(1, n),
               i -> i = n OR
                    ((instr('{_HEX}', substr(md5(t[i]), 1, 1)) - 1) * 16 +
                     instr('{_HEX}', substr(md5(t[i]), 2, 1)) - 1) % {CDC_MOD} = 0
             ) AS bpos
      FROM toks
    ),
    chunks AS (
      SELECT doc_id, source,
             md5(array_to_string(
               list_slice(t, CASE WHEN j = 1 THEN 1 ELSE bpos[j - 1] + 1 END,
                          bpos[j]), ' ')) AS chunk_md5,
             bpos[j] - (CASE WHEN j = 1 THEN 1 ELSE bpos[j - 1] + 1 END) + 1
               AS n_chunk_tokens
      FROM (SELECT doc_id, source, t, bpos,
                   unnest(generate_series(1, len(bpos))) AS j
            FROM bounds)
    ),
    shared AS (
      SELECT chunk_md5 FROM chunks
      GROUP BY chunk_md5 HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT c.source,
           count(*) AS n_chunks,
           CAST(sum(c.n_chunk_tokens) AS BIGINT) AS n_tokens,
           count(s.chunk_md5) AS n_shared_chunks,
           CAST(COALESCE(sum(c.n_chunk_tokens) FILTER (
             WHERE s.chunk_md5 IS NOT NULL), 0) AS BIGINT) AS shared_token_mass
    FROM chunks c LEFT JOIN shared s USING (chunk_md5)
    GROUP BY c.source
    """,
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (FastCDC at token granularity): a chunk
    boundary falls after any token whose md5-derived byte is 0 mod
    8 (CDC_MOD; plus a forced boundary at doc end), so identical passages
    produce identical chunks REGARDLESS of their offset in the document —
    the property fixed-stride chunking lacks and the reason CDC is how
    storage systems and sub-document dedup find shared content between
    partially-overlapping documents (boilerplate, quoted replies,
    syndicated paragraphs).  Chunks leave the query as md5 ids; output is
    the per-source sub-document dedup ledger: total vs shared chunk count
    and the token mass a chunk-level dedup pass would reclaim.

    Determinism: boundaries are a pure function of token bytes (md5 hex →
    instr grid — the engine-neutral hash used corpus-wide); chunk ids are
    md5 of the exact token slice; counts are integers.

    Plan: boundary positions and chunk slices are higher-order array ops
    over the materialized token array (map-side, zero shuffles until the
    chunk-id aggregation); the shared-chunk detection is one groupBy on
    the 16-byte chunk id.  At 100 TB the explode produces
    ~corpus_tokens/8 rows carrying md5s, not text — the same
    shuffle-mass argument as the shingle pipeline."""
    prep(spark)
    d = table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", "source", F.split("text", " ").alias("t")
    ).withColumn("n", F.size("t"))

    # token hash byte, Column-API form usable inside the filter lambda
    # (F.conv hex->dec == the oracle's instr-grid arithmetic for 2 digits)
    def tok_byte(i):
        return F.conv(
            F.substring(F.md5(F.element_at(F.col("t"), i)), 1, 2), 16, 10
        ).cast("int")

    # boundary positions (1-based): token hash hits the modulus, or doc end
    bounds = base.withColumn(
        "bpos",
        F.filter(
            F.sequence(F.lit(1), F.col("n")),
            lambda i: (i == F.col("n")) | (tok_byte(i) % CDC_MOD == 0),
        ),
    )
    chunks = (
        bounds.select(
            "doc_id",
            "source",
            "t",
            "bpos",
            F.explode(F.sequence(F.lit(1), F.size("bpos"))).alias("j"),
        )
        .select(
            "doc_id",
            "source",
            "t",
            F.when(F.col("j") == 1, F.lit(1))
            .otherwise(F.element_at("bpos", F.col("j") - 1) + 1)
            .alias("start"),
            F.element_at("bpos", F.col("j")).alias("end"),
        )
        .select(
            "doc_id",
            "source",
            F.md5(
                F.array_join(
                    F.slice(F.col("t"), F.col("start"), F.col("end") - F.col("start") + 1),
                    " ",
                )
            ).alias("chunk_md5"),
            (F.col("end") - F.col("start") + 1).alias("n_chunk_tokens"),
        )
    )
    shared = (
        chunks.groupBy("chunk_md5")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("chunk_md5", F.lit(1).alias("_s"))
    )
    return (
        chunks.join(shared, "chunk_md5", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_chunk_tokens").cast("long").alias("n_tokens"),
            F.count("_s").alias("n_shared_chunks"),
            F.coalesce(
                F.sum(F.when(F.col("_s").isNotNull(), F.col("n_chunk_tokens"))),
                F.lit(0),
            )
            .cast("long")
            .alias("shared_token_mass"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter semi-join prefilter
# ---------------------------------------------------------------------------

BLOOM_BITS = 16384  # 512 x 32-bit words; ~0.3 fill at sf0.1's dim cardinality
BLOOM_SEGMENT = "BUILDING"


def _bloom_pos_sql(key_expr: str, offset: int) -> str:
    """4-hex-digit slice of md5(key) starting at ``offset`` (1-based) as an
    integer in [0, BLOOM_BITS) — instr-grid arithmetic, no from_hex."""
    digits = [
        f"(instr('{_HEX}', substr(md5({key_expr}), {offset + i}, 1)) - 1)"
        for i in range(4)
    ]
    acc = digits[0]
    for d in digits[1:]:
        acc = f"(({acc}) * 16 + {d})"
    return f"(({acc}) % {BLOOM_BITS})"


@register(
    "join_bloom_prefilter",
    "joins",
    oracle=f"""
    WITH keys AS (
      SELECT DISTINCT c_custkey FROM customer WHERE c_mktsegment = '{BLOOM_SEGMENT}'
    ),
    bits AS (
      SELECT {_bloom_pos_sql("CAST(c_custkey AS VARCHAR)", 1)} AS p FROM keys
      UNION ALL
      SELECT {_bloom_pos_sql("CAST(c_custkey AS VARCHAR)", 5)} AS p FROM keys
    ),
    bloom AS (
      SELECT p // 32 AS w, bit_or(CAST(1 AS BIGINT) << (p % 32)) AS word
      FROM bits GROUP BY p // 32
    ),
    probed AS (
      SELECT o.o_orderpriority,
             ((COALESCE(b1.word, 0) >> (o.p1 % 32)) & 1) = 1
             AND ((COALESCE(b2.word, 0) >> (o.p2 % 32)) & 1) = 1 AS bloom_pass,
             k.c_custkey IS NOT NULL AS true_match
      FROM (
        SELECT o_orderkey, o_custkey, o_orderpriority,
               {_bloom_pos_sql("CAST(o_custkey AS VARCHAR)", 1)} AS p1,
               {_bloom_pos_sql("CAST(o_custkey AS VARCHAR)", 5)} AS p2
        FROM orders
      ) o
      LEFT JOIN bloom b1 ON b1.w = o.p1 // 32
      LEFT JOIN bloom b2 ON b2.w = o.p2 // 32
      LEFT JOIN keys k ON k.c_custkey = o.o_custkey
    )
    SELECT o_orderpriority,
           count(*) AS n_orders,
           count(*) FILTER (WHERE bloom_pass) AS n_bloom_pass,
           count(*) FILTER (WHERE true_match) AS n_true_match,
           count(*) FILTER (WHERE bloom_pass AND NOT true_match) AS n_false_pos
    FROM probed
    GROUP BY o_orderpriority
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction — THE 100 TB join-reduction
    pattern: instead of shuffling the fact table against a filtered
    dimension, a 16384-bit Bloom filter (512 BIGINT words, built
    with one tiny aggregation over the dim keys, 2 hash functions from
    disjoint md5 hex slices) is broadcast and applied MAP-SIDE to every
    fact row; only passing rows ever reach the real join.  The query
    reports, per order priority, exactly what the filter buys: total
    rows, bloom-passing rows, true semi-join matches, and false
    positives — the observed fp rate vs the (1-e^(-kn/m))^k design point.
    This is what Spark's AQE runtime-bloom-filter rewrite does
    internally; here it is expressed declaratively so the mechanism is
    testable bit-for-bit.

    Determinism: bit positions are pure md5 hex arithmetic; the filter
    words are BIGINT bit_or folds (associative, order-independent);
    probes are integer shifts.  No floats anywhere.

    Plan: the bloom build is a <=512-row aggregate over the filtered dim;
    both bloom word lookups and the exactness audit join are broadcasts,
    so the fact table is scanned once, map-side only, and the single
    exchange is the final ~5-group rollup."""
    prep(spark)
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    keys = (
        cust.where(F.col("c_mktsegment") == BLOOM_SEGMENT)
        .select("c_custkey")
        .distinct()
    )

    def pos(col, offset):
        return (
            F.conv(F.substring(F.md5(col.cast("string")), offset, 4), 16, 10)
            .cast("long")
            % BLOOM_BITS
        )

    bits = keys.select(pos(F.col("c_custkey"), 1).alias("p")).unionAll(
        keys.select(pos(F.col("c_custkey"), 5).alias("p"))
    )
    bloom = bits.groupBy((F.col("p") / 32).cast("long").alias("w")).agg(
        F.bit_or(F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))")).alias(
            "word"
        )
    )
    probed = (
        orders.select(
            "o_orderpriority",
            "o_custkey",
            pos(F.col("o_custkey"), 1).alias("p1"),
            pos(F.col("o_custkey"), 5).alias("p2"),
        )
        .join(
            F.broadcast(bloom.select(F.col("w").alias("w1"), F.col("word").alias("word1"))),
            F.expr("CAST(p1 / 32 AS BIGINT)") == F.col("w1"),
            "left",
        )
        .join(
            F.broadcast(bloom.select(F.col("w").alias("w2"), F.col("word").alias("word2"))),
            F.expr("CAST(p2 / 32 AS BIGINT)") == F.col("w2"),
            "left",
        )
        .join(
            F.broadcast(keys.select(F.col("c_custkey").alias("_k"), F.lit(1).alias("_m"))),
            F.col("o_custkey") == F.col("_k"),
            "left",
        )
        .select(
            "o_orderpriority",
            (
                (
                    F.expr(
                        "shiftright(COALESCE(word1, CAST(0 AS BIGINT)), CAST(p1 % 32 AS INT))"
                    ).bitwiseAND(F.lit(1))
                    == 1
                )
                & (
                    F.expr(
                        "shiftright(COALESCE(word2, CAST(0 AS BIGINT)), CAST(p2 % 32 AS INT))"
                    ).bitwiseAND(F.lit(1))
                    == 1
                )
            ).alias("bloom_pass"),
            F.col("_m").isNotNull().alias("true_match"),
        )
    )
    return probed.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count_if(F.col("bloom_pass")).alias("n_bloom_pass"),
        F.count_if(F.col("true_match")).alias("n_true_match"),
        F.count_if(F.col("bloom_pass") & ~F.col("true_match")).alias("n_false_pos"),
    )


DOMAIN_COUNT = 32  # synthesized registrable-domain space for the cap exhibit
DOMAIN_CAP = 12  # max documents any one domain may contribute
DOMAIN_SHARDS = 8  # level-1 md5-shards per domain (the head-domain skew split)


def _hb(col):
    """First-2-hex-digit byte value of md5(col) as INT — the Column-API
    twin of ``_bucket_sql`` (F.conv hex->dec == the instr-grid
    arithmetic, proven equivalent in ``dedup_cdc_chunks``)."""
    return F.conv(F.substring(F.md5(col), 1, 2), 16, 10).cast("int")


# ---------------------------------------------------------------------------
# Hashed-feature linear quality classifier
# ---------------------------------------------------------------------------


@register(
    "text_quality_classifier",
    "text",
    oracle=f"""
    WITH scored AS (
      SELECT source,
             CAST(list_sum(list_transform(string_split(lower(text), ' '),
               tok -> {_bucket_sql(f"('w' || CAST({_bucket_sql('tok')} AS VARCHAR))")} - 128
             )) AS BIGINT) AS score,
             len(string_split(lower(text), ' ')) AS n_tok
      FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           count(*) FILTER (WHERE score >= 0) AS n_keep,
           CAST(sum(score) AS BIGINT) AS sum_score,
           CAST(sum(n_tok) AS BIGINT) AS sum_tokens
    FROM scored GROUP BY source
    """,
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality classifier (the CCNet / GPT-3
    quality-filter shape): every token hashes into a 256-bucket feature
    space, each bucket carries a fixed signed weight, and a document's
    quality score is the sum of its token weights; ``score >= 0`` keeps
    the document.  Real models broadcast a (2^20-bucket x weight) table;
    here the 256-entry lookup is inlined as a pure md5 expression
    (weight(b) = md5-byte('w'||b) - 128 in [-128, 127]) so the exhibit is
    deterministic without fixture files while exercising the exact
    hashed-trick scoring plan.

    Determinism: buckets and weights are md5-hex arithmetic (F.conv ==
    the oracle's instr grid); scores are BIGINT sums.

    Plan: the per-document score is one ``F.aggregate`` fold over the
    token array — NO explode, NO shuffle, no UDF; the only exchange is
    the final per-source rollup.  At 100 TB the filter is a map-only
    pass, which is why hashed linear scorers (not transformer rerankers)
    gate the first trillion tokens of a curation funnel."""
    d = table(prep(spark), sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    score = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + (_hb(F.concat(F.lit("w"), _hb(t).cast("string"))) - 128).cast("long"),
    )
    scored = d.select(
        "source", score.alias("score"), F.size(toks).alias("n_tok")
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("score") >= 0).alias("n_keep"),
        F.sum("score").cast("long").alias("sum_score"),
        F.sum("n_tok").cast("long").alias("sum_tokens"),
    )


# ---------------------------------------------------------------------------
# Per-domain cap
# ---------------------------------------------------------------------------


@register(
    "pipeline_domain_cap",
    "pipeline",
    oracle=f"""
    WITH keyed AS (
      SELECT source, doc_id,
             ({_bucket_sql("CAST(doc_id AS VARCHAR)")}) % {DOMAIN_COUNT} AS dom,
             ({_bucket_sql("(CAST(doc_id AS VARCHAR) || ':shard')")})
               % {DOMAIN_SHARDS} AS shard,
             md5(CAST(doc_id AS VARCHAR) || ':rank') AS rk
      FROM documents
    ),
    lvl1 AS (
      SELECT *, row_number() OVER (
               PARTITION BY dom, shard ORDER BY rk, doc_id) AS rn1
      FROM keyed
    ),
    lvl2 AS (
      SELECT source, row_number() OVER (
               PARTITION BY dom ORDER BY rk, doc_id) AS rn2
      FROM lvl1 WHERE rn1 <= {DOMAIN_CAP}
    ),
    base AS (
      SELECT source, count(*) AS n_docs, count(DISTINCT dom) AS n_domains
      FROM keyed GROUP BY source
    ),
    l1c AS (
      SELECT source, count(*) AS n_lvl1_kept FROM lvl1
      WHERE rn1 <= {DOMAIN_CAP} GROUP BY source
    ),
    l2c AS (
      SELECT source, count(*) AS n_kept FROM lvl2
      WHERE rn2 <= {DOMAIN_CAP} GROUP BY source
    )
    SELECT b.source,
           b.n_docs,
           CAST(COALESCE(l2.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(b.n_docs - COALESCE(l2.n_kept, 0) AS BIGINT) AS n_dropped,
           CAST(COALESCE(l1.n_lvl1_kept, 0) AS BIGINT) AS n_lvl1_kept,
           b.n_domains
    FROM base b
    LEFT JOIN l1c l1 ON b.source = l1.source
    LEFT JOIN l2c l2 ON b.source = l2.source
    """,
)
def pipeline_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style per-domain cap: no domain may contribute more than
    12 documents (DOMAIN_CAP) to the training mix, enforced by the
    TWO-LEVEL (domain, md5-shard) cap-then-recap — the 100 TB-safe plan
    (VERDICT r5 item 3, previously only promised in prose):

    - **Level 1** ranks within (domain, shard) — shard = md5(doc_id||
      ':shard') % 8 (DOMAIN_SHARDS) — and keeps at most DOMAIN_CAP rows
      per (domain, shard).  A head domain (the wikipedia.org problem) is
      split across 8 reducers instead of landing on one, and each
      reducer's output is bounded at CAP rows.
    - **Level 2** re-ranks only the level-1 survivors per domain —
      globally at most DOMAIN_COUNT * DOMAIN_SHARDS * DOMAIN_CAP = 3072
      rows AT ANY INPUT SCALE — and keeps the final top-DOMAIN_CAP.

    The composition is EXACTLY the one-level cap: every final winner has
    global domain rank <= CAP, hence rank <= CAP within its own shard,
    so level 1 never drops a final winner; the recap then selects the
    identical top-CAP set by the same total order (rk, doc_id).  n_kept/
    n_dropped are therefore unchanged from the one-level form, and the
    new ``n_lvl1_kept`` column exposes the intermediate survivor count so
    the two-level structure itself is oracle-checked, not just
    plan-shaped.  Rank key = md5(doc_id||':rank') — a reproducible
    uniform shuffle within each domain, stable across runs and engines.
    Domains are synthesized from doc_id md5 bytes (32 of them) since the
    testdata carries no URL column; the plan is identical with a real
    ``parse_url(..., 'HOST')`` key (``scalar_url_battery`` exercises
    that extraction).

    Determinism: domain, shard, rank key, and counts are md5-hex /
    integer arithmetic end to end; ledger counts COALESCE to 0 and cast
    BIGINT on both sides (left-join null-widening hazard).

    Plan: one hash exchange on (dom, shard) ranks the full data with
    per-reducer output bounded at CAP; the recap window's input is a
    <=3072-row constant regardless of scale; the per-source ledger joins
    are broadcasts.  No single-reducer-per-domain anywhere.
    (``sample_k_per_group`` shares the ranked-window-limit shape but
    SAMPLES k per source; this op ENFORCES a cap per synthesized domain
    and accounts for the dropped mass — the curation-policy ledger.)"""
    d = table(prep(spark), sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    keyed = d.select(
        "source",
        "doc_id",
        (_hb(did) % DOMAIN_COUNT).alias("dom"),
        (_hb(F.concat(did, F.lit(":shard"))) % DOMAIN_SHARDS).alias("shard"),
        F.md5(F.concat(did, F.lit(":rank"))).alias("rk"),
    )
    lvl1 = keyed.withColumn(
        "rn1",
        F.row_number().over(W.partitionBy("dom", "shard").orderBy("rk", "doc_id")),
    ).where(F.col("rn1") <= DOMAIN_CAP)
    lvl2 = lvl1.withColumn(
        "rn2", F.row_number().over(W.partitionBy("dom").orderBy("rk", "doc_id"))
    )
    base = keyed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("dom").alias("n_domains"),
    )
    l1c = lvl1.groupBy("source").agg(F.count(F.lit(1)).alias("n_lvl1_kept"))
    l2c = (
        lvl2.where(F.col("rn2") <= DOMAIN_CAP)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        base.join(F.broadcast(l1c), "source", "left")
        .join(F.broadcast(l2c), "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.col("n_docs") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
            F.coalesce("n_lvl1_kept", F.lit(0)).cast("long").alias("n_lvl1_kept"),
            "n_domains",
        )
    )


# ---------------------------------------------------------------------------
# Exact-rational EWMA
# ---------------------------------------------------------------------------

# alpha = 1/4, horizon 8: weights alpha*(1-alpha)^i scaled by 4^7 = 16384 are
# the INTEGERS 3^i * 4^(6-i) for i = 0..6 plus a 3^7 tail that absorbs the
# remaining mass, so they sum to exactly 16384 and the scaled EWMA is an
# exact decimal — no float pow anywhere.
EWMA_WEIGHTS = [4096, 3072, 2304, 1728, 1296, 972, 729, 2187]
assert sum(EWMA_WEIGHTS) == 16384


@register(
    "window_ewma_exact",
    "window",
    oracle=f"""
    WITH lagged AS (
      SELECT event_type,
             {" + ".join(
                 f"{w} * lag(CAST(value AS DECIMAL(18,2)), {i}) OVER "
                 "(PARTITION BY user_id ORDER BY ts, event_id)"
                 if i else f"{w} * CAST(value AS DECIMAL(18,2))"
                 for i, w in enumerate(EWMA_WEIGHTS)
             )} AS ewma_scaled,
             lag(value, {len(EWMA_WEIGHTS) - 1}) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS tail
      FROM (SELECT * REPLACE (date_trunc('milliseconds', ts) AS ts) FROM events)
    )
    SELECT event_type,
           count(*) AS n_windows,
           CAST(sum(ewma_scaled) AS DOUBLE) AS ewma_scaled_sum,
           CAST(min(ewma_scaled) AS DOUBLE) AS ewma_scaled_min,
           CAST(max(ewma_scaled) AS DOUBLE) AS ewma_scaled_max
    FROM lagged WHERE tail IS NOT NULL
    GROUP BY event_type
    """,
)
def window_ewma_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average as an EXACT rational window:
    alpha = 1/4 over an 8-event horizon, weights 3^i * 4^(6-i) (tail 3^7)
    over the common denominator 4^7 = 16384 — they sum to exactly 1, and
    because the 2-decimal event values are exact in DECIMAL, the scaled
    EWMA is exact integer-cent arithmetic with zero float ``pow`` /
    accumulation drift.  This is the time-decayed feature column
    (recency-weighted engagement, decayed spend) feature stores emit for
    training data, computed so two engines — or two cluster runs with
    different partitioning — agree bit-for-bit.

    Determinism: the window order (ts, event_id) is total (event_id
    unique); weights are integer literals; arithmetic is DECIMAL.  Both
    engines sort the IDENTICAL ts key: catalog.table ms-truncates ts on
    the Spark side (events_ts_ms) exactly as the oracle's
    date_trunc('milliseconds') does, pinned by
    tests/test_properties.py::test_catalog_events_ts_is_ms_truncated —
    sub-ms ordering cannot diverge because sub-ms digits never reach
    either window.

    Plan: one hash exchange on user_id, one per-user sort, 7 ``lag``
    reads from the SAME window frame (a single window spec, so Catalyst
    evaluates one WindowExec, not 7); rollup to event_type is map-side
    combinable.  No self-join — the naive 8-way self-join form would
    shuffle 8x the data."""
    ev = table(prep(spark), sf_dir, "events")
    wspec = W.partitionBy("user_id").orderBy("ts", "event_id")
    x = F.col("value").cast("decimal(18,2)")
    terms = [
        F.lit(w) * (F.lag(x, i).over(wspec) if i else x)
        for i, w in enumerate(EWMA_WEIGHTS)
    ]
    ewma = terms[0]
    for t in terms[1:]:
        ewma = ewma + t
    lagged = ev.select(
        "event_type",
        ewma.alias("ewma_scaled"),
        F.lag("value", len(EWMA_WEIGHTS) - 1).over(wspec).alias("tail"),
    ).where(F.col("tail").isNotNull())
    return lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("ewma_scaled").cast("double").alias("ewma_scaled_sum"),
        F.min("ewma_scaled").cast("double").alias("ewma_scaled_min"),
        F.max("ewma_scaled").cast("double").alias("ewma_scaled_max"),
    )


# ---------------------------------------------------------------------------
# Algebraic partial-state merge (incremental aggregation maintenance)
# ---------------------------------------------------------------------------


@register(
    "agg_incremental_merge",
    "relational",
    oracle=f"""
    WITH sliced AS (
      SELECT event_type, value,
             CASE WHEN ({_bucket_sql("CAST(event_id AS VARCHAR)")}) % 5 = 0
                  THEN 'delta' ELSE 'base' END AS slc
      FROM events
    ),
    partial AS (
      SELECT slc, event_type, count(*) AS n,
             sum(CAST(value AS DECIMAL(38,6))) AS s,
             min(value) AS mn, max(value) AS mx
      FROM sliced GROUP BY slc, event_type
    ),
    merged AS (
      SELECT event_type, CAST(sum(n) AS BIGINT) AS n,
             CAST(sum(s) AS DOUBLE) AS total,
             min(mn) AS mn, max(mx) AS mx
      FROM partial GROUP BY event_type
    ),
    direct AS (
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total,
             min(value) AS mn, max(value) AS mx
      FROM sliced GROUP BY event_type
    )
    SELECT m.event_type,
           m.n AS n_events, m.total AS total_value,
           m.mn AS v_min, m.mx AS v_max,
           (m.n = d.n AND m.total = d.total AND m.mn = d.mn AND m.mx = d.mx)
             AS matches_direct
    FROM merged m JOIN direct d ON m.event_type = d.event_type
    """,
)
def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregation maintenance: the events table is split into
    a 'base' slice and a 'delta' slice (md5 of the id — stand-in for
    yesterday's materialized state plus today's arrivals), ALGEBRAIC
    partial states (count, exact decimal sum, min, max) are computed per
    slice, merged state-wise (counts and sums add, min/max fold), and the
    merged result is PROVEN equal to the direct full-table aggregate by
    an in-query comparison column.  This is the mergeable-state contract
    behind incremental view maintenance: at 100 TB you maintain per-day
    (or per-partition) states and merge at query time instead of
    rescanning history — the general form of the sketch merges
    ``agg_hll_partitioned_merge`` / ``agg_countmin_sketch`` exhibit, and
    the reason sums go through DECIMAL (float partial sums would NOT
    merge associatively; see functions/numeric.py).

    Determinism: slice assignment is md5-hex arithmetic; sums are exact
    DECIMAL; min/max of doubles are exact comparisons.

    Plan: one exchange for the (slc, event_type) partial aggregate
    (map-side combinable), a ~2-row-per-group merge, and a broadcast-size
    self-check join — the check costs one extra scan here but would read
    materialized state tables in production."""
    ev = table(prep(spark), sf_dir, "events")
    sliced = ev.select(
        "event_type",
        "value",
        F.when(
            _hb(F.col("event_id").cast("string")) % 5 == 0, F.lit("delta")
        )
        .otherwise(F.lit("base"))
        .alias("slc"),
    )
    dec = F.col("value").cast("decimal(38,6)")
    partial = sliced.groupBy("slc", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).alias("s"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    merged = partial.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("s").cast("double").alias("total"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    )
    direct = sliced.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("dn"),
        F.sum(dec).cast("double").alias("dtotal"),
        F.min("value").alias("dmn"),
        F.max("value").alias("dmx"),
    )
    return (
        merged.join(direct, "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_events"),
            F.col("total").alias("total_value"),
            F.col("mn").alias("v_min"),
            F.col("mx").alias("v_max"),
            (
                (F.col("n") == F.col("dn"))
                & (F.col("total") == F.col("dtotal"))
                & (F.col("mn") == F.col("dmn"))
                & (F.col("mx") == F.col("dmx"))
            ).alias("matches_direct"),
        )
    )


# ---------------------------------------------------------------------------
# Weighted priority sampling (Duffield-Lund-Thorup)
# ---------------------------------------------------------------------------

SAMPLE_K = 20  # weighted sample size per source


@register(
    "pipeline_priority_sample",
    "pipeline",
    oracle=f"""
    WITH pri AS (
      SELECT source, doc_id, n_chars,
             CAST(({_bucket_sql("CAST(doc_id AS VARCHAR)")}) * 16777216
                  + (instr('{_HEX}', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 1048576
                  + (instr('{_HEX}', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) * 65536
                  + (instr('{_HEX}', substr(md5(CAST(doc_id AS VARCHAR)), 5, 1)) - 1) * 4096
                  + (instr('{_HEX}', substr(md5(CAST(doc_id AS VARCHAR)), 6, 1)) - 1) * 256
                  + (instr('{_HEX}', substr(md5(CAST(doc_id AS VARCHAR)), 7, 1)) - 1) * 16
                  + (instr('{_HEX}', substr(md5(CAST(doc_id AS VARCHAR)), 8, 1)) - 1)
               AS DOUBLE) / CAST(GREATEST(n_chars, 1) AS DOUBLE) AS priority
      FROM documents
    ),
    ranked AS (
      SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY priority, doc_id) AS rn
      FROM pri
    )
    SELECT source,
           count(*) AS n_docs,
           count(*) FILTER (WHERE rn <= {SAMPLE_K}) AS n_sampled,
           CAST(COALESCE(sum(n_chars) FILTER (WHERE rn <= {SAMPLE_K}), 0)
                AS BIGINT) AS sampled_chars,
           CAST(COALESCE(sum(doc_id) FILTER (WHERE rn <= {SAMPLE_K}), 0)
                AS BIGINT) AS sampled_id_checksum
    FROM ranked GROUP BY source
    """,
)
def pipeline_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement via PRIORITY SAMPLING
    (Duffield-Lund-Thorup): each document draws a deterministic uniform
    u (32-bit md5 slice of its id) and is ranked by priority = u / w with
    w = n_chars, so heavier documents sort earlier with probability
    proportional to their weight; the SAMPLE_K=20 smallest priorities per
    source are the sample.  This is the estimator data-mixing pipelines
    use to draw token-weighted corpus samples reproducibly — unlike
    ``sample(fraction, seed)`` the result is independent of partitioning
    and engine.  (``pipeline_mix_quota_sample`` fills TOKEN-MASS quotas
    greedily in unweighted md5-priority order; this op draws a FIXED-k
    sample with inclusion probability scaled by each document's weight —
    the two samplers a mixing pipeline composes.)

    Determinism: u is exact integer md5 arithmetic; priority is ONE IEEE
    double division (correctly rounded, bit-identical cross-engine — the
    same single-rounding contract as pipeline_dsir_importance); ties are
    impossible past the doc_id tiebreak.

    Plan: priorities are map-side; one exchange on source for the ranked
    window (WindowGroupLimit prunes to k rows per partition before the
    sort completes), rollup map-side.  At 100 TB the per-source top-k is
    a per-partition k-heap — no global sort, no collect."""
    d = table(prep(spark), sf_dir, "documents")
    u32 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    pri = d.select(
        "source",
        "doc_id",
        "n_chars",
        (
            u32.cast("double")
            / F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
        ).alias("priority"),
    )
    ranked = pri.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("source").orderBy("priority", "doc_id")
        ),
    )
    keep = F.col("rn") <= SAMPLE_K
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(keep).alias("n_sampled"),
        F.coalesce(F.sum(F.when(keep, F.col("n_chars"))), F.lit(0))
        .cast("long")
        .alias("sampled_chars"),
        F.coalesce(F.sum(F.when(keep, F.col("doc_id"))), F.lit(0))
        .cast("long")
        .alias("sampled_id_checksum"),
    )


# ---------------------------------------------------------------------------
# Pre-shuffle partition-skew audit
# ---------------------------------------------------------------------------

SKEW_PARTITIONS = 32  # simulated reducer count


@register(
    "profile_partition_skew",
    "relational",
    oracle=f"""
    WITH keyed AS (
      SELECT ({_bucket_sql("CAST(user_id AS VARCHAR)")}) % {SKEW_PARTITIONS} AS pid,
             user_id, count(*) AS key_rows
      FROM events GROUP BY 1, 2
    )
    SELECT pid,
           CAST(sum(key_rows) AS BIGINT) AS n_rows,
           count(*) AS n_keys,
           CAST(max(key_rows) AS BIGINT) AS max_key_rows
    FROM keyed GROUP BY pid
    """,
)
def profile_partition_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-shuffle partition-skew audit: simulate hash-partitioning the
    events table by user_id into 32 reducers (md5-derived
    partition id — a deterministic, engine-neutral stand-in for
    murmur3 ``pmod(hash(key), n)``, which DuckDB cannot mirror) and
    report each reducer's row mass, key count, and heaviest single key.
    This is the diagnostic that decides a shuffle's skew treatment
    BEFORE it runs: max_key_rows >> n_rows/n_keys means one hot key
    (salt it — ``agg_salted_skew``'s plan); one pid's n_rows >> the
    others' with balanced keys means unlucky bucketing (AQE skew-join
    split handles it).

    Determinism: partition ids are md5-hex arithmetic; all outputs are
    integer counts.

    Plan: two map-side-combinable keyed aggregates — (pid, user_id)
    partials then the per-pid rollup — so the audit itself never
    concentrates a hot key on one reducer: the first agg's combiner
    collapses each key's rows to one partial per map task.  At 100 TB
    this runs as a cheap side-scan (or over a sample) feeding the
    planner's salting decision."""
    ev = table(prep(spark), sf_dir, "events")
    keyed = (
        ev.select(
            (_hb(F.col("user_id").cast("string")) % SKEW_PARTITIONS).alias("pid"),
            "user_id",
        )
        .groupBy("pid", "user_id")
        .agg(F.count(F.lit(1)).alias("key_rows"))
    )
    return keyed.groupBy("pid").agg(
        F.sum("key_rows").cast("long").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("key_rows").cast("long").alias("max_key_rows"),
    )


# ---------------------------------------------------------------------------
# Two-relation as-of join (union + window, no UDF)
# ---------------------------------------------------------------------------

_EV_MS = "(SELECT * REPLACE (date_trunc('milliseconds', ts) AS ts) FROM events)"


@register(
    "join_asof_attribution",
    "joins",
    oracle=f"""
    WITH unioned AS (
      SELECT user_id AS k, ts AS t, 0 AS side, event_id AS rid
      FROM {_EV_MS} WHERE event_type = 'view'
      UNION ALL
      SELECT user_id AS k, ts AS t, 1 AS side, event_id AS rid
      FROM {_EV_MS} WHERE event_type = 'click'
    ),
    attributed AS (
      SELECT k, t, side, rid,
             last_value(CASE WHEN side = 0 THEN rid END IGNORE NULLS) OVER (
               PARTITION BY k ORDER BY t, side, rid
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_id,
             last_value(CASE WHEN side = 0 THEN t END IGNORE NULLS) OVER (
               PARTITION BY k ORDER BY t, side, rid
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_t
      FROM unioned
    )
    SELECT epoch_ms(date_trunc('day', t)) AS click_day_ms,
           count(*) AS n_clicks,
           count(view_id) AS n_attributed,
           CAST(COALESCE(sum(epoch_ms(t) - epoch_ms(view_t)), 0) AS BIGINT)
             AS gap_ms_total,
           CAST(COALESCE(sum(view_id), 0) AS BIGINT) AS view_id_checksum
    FROM attributed WHERE side = 1
    GROUP BY 1
    """,
)
def join_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-RELATION as-of join without a UDF: for every click, the same
    user's most recent view at-or-before it (last-touch attribution).
    The two relations are unioned with a side tag and a single
    last_value(...IGNORE NULLS) window over (t, side, rid) — build rows
    sort before probe rows at equal timestamps, so 'at-or-before' is
    exact.  This is the scalable two-table as-of: ``pd.merge_asof`` via
    cogrouped ``applyInPandas`` (``udf_cogroup_merge_asof``) moves both
    relations through Python; the union-window form is one shuffle on
    the key, pure JVM, and works at any build/probe size ratio.  (The
    same-STREAM special case — prev-error lookup within one table — is
    ``join_asof_prev_error``'s conditional window; the union form here is
    what generalizes it to two independently-projected relations.)

    Determinism: the window order (t, side, rid) is total (event ids are
    unique); the frame is ROWS (not the default RANGE, which would leak
    equal-timestamp FOLLOWING peers into last_value); gaps are exact
    epoch-ms BIGINT arithmetic.  t is the catalog's ms-truncated ts on
    BOTH sides (events_ts_ms vs the oracle's _EV_MS), so the sort key is
    engine-identical bit-for-bit (pinned by
    test_catalog_events_ts_is_ms_truncated).

    Plan: one exchange partitions the union by user; both window columns
    share the single WindowExec sort; the probe-side filter and day
    rollup are map-side after it.  At 100 TB this is shuffle mass
    |build|+|probe| moved once — no per-key loop, no broadcast
    assumption on either side."""
    ev = table(prep(spark), sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(0).alias("side"),
        F.col("event_id").alias("rid"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("side"),
        F.col("event_id").alias("rid"),
    )
    wspec = (
        W.partitionBy("k")
        .orderBy("t", "side", "rid")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    attributed = (
        views.unionAll(clicks)
        .select(
            "k",
            "t",
            "side",
            F.last(
                F.when(F.col("side") == 0, F.col("rid")), ignorenulls=True
            )
            .over(wspec)
            .alias("view_id"),
            F.last(
                F.when(F.col("side") == 0, F.col("t")), ignorenulls=True
            )
            .over(wspec)
            .alias("view_t"),
        )
        .where(F.col("side") == 1)
    )
    return attributed.groupBy(
        F.unix_millis(F.date_trunc("day", "t")).alias("click_day_ms")
    ).agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.count("view_id").alias("n_attributed"),
        F.coalesce(
            F.sum(F.unix_millis("t") - F.unix_millis("view_t")), F.lit(0)
        )
        .cast("long")
        .alias("gap_ms_total"),
        F.coalesce(F.sum("view_id"), F.lit(0))
        .cast("long")
        .alias("view_id_checksum"),
    )


# ---------------------------------------------------------------------------
# MAD robust outlier statistics
# ---------------------------------------------------------------------------

MAD_K = 3  # outlier threshold: |x - median| > MAD_K * MAD


@register(
    "quality_mad_outliers",
    "relational",
    oracle=f"""
    WITH cents AS (
      SELECT event_type, value,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
      FROM events
    ),
    med AS (
      SELECT event_type, CAST(2 * quantile_cont(vc, 0.5) AS BIGINT) AS m2
      FROM cents GROUP BY event_type
    ),
    dev AS (
      SELECT c.event_type, c.value, m.m2, abs(2 * c.vc - m.m2) AS a2
      FROM cents c JOIN med m ON c.event_type = m.event_type
    ),
    mad AS (
      SELECT event_type, CAST(2 * quantile_cont(a2, 0.5) AS BIGINT) AS mad4
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           count(*) AS n_rows,
           max(d.m2) / 200.0 AS med,
           max(a.mad4) / 400.0 AS mad,
           count(*) FILTER (WHERE 2 * d.a2 > {MAD_K} * a.mad4) AS n_outliers,
           CAST(sum(CAST(d.value AS DECIMAL(38,6)))
                FILTER (WHERE 2 * d.a2 > {MAD_K} * a.mad4) AS DOUBLE)
             AS outlier_value_sum
    FROM dev d JOIN mad a ON d.event_type = a.event_type
    GROUP BY d.event_type
    """,
)
def quality_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via MEDIAN ABSOLUTE DEVIATION: per group,
    med = exact median, MAD = exact median of |x - med|, outliers are
    rows with |x - med| > 3*MAD (MAD_K) — the quality-filter statistic that
    (unlike mean/stddev z-scores, cf. ``timeseries_anomaly_zscore``)
    does not let the outliers themselves drag the threshold.

    Determinism is CONTRACT-guaranteed, not formula-luck (ADVICE r5): the
    2-decimal event values are lifted to integer cents (exact DECIMAL(18,2)
    cast, the repo's standard float→decimal bridge), and every median is
    carried as 2×median — an INTEGER (sum of the two middle values for even
    counts).  On integer-valued doubles far below 2^52, BOTH midpoint
    formulas (Spark's (a+b)/2 and DuckDB's lower+(higher-lower)*0.5) are
    sequences of exact IEEE ops, so they agree bit-for-bit regardless of
    rounding mode or formula.  The outlier test |x-med| > 3*MAD becomes the
    pure-integer compare 2*|2*vc - m2| > 3*mad4 (a2 is in half-cents, mad4
    in quarter-cents), so the outlier SET is engine-exact by integer
    arithmetic; the reported med/mad columns are single exact-integer /
    200.0 and / 400.0 divisions — one correctly-rounded op each on
    identical inputs.

    Plan: two grouped exact-median passes (Spark's ``median`` is
    single-pass per group) with the tiny per-group med/MAD tables
    broadcast back — no per-row sort, no window over the full table.  At
    100 TB exact per-group medians are one shuffle each on the group
    key; if groups were huge-cardinality skewed, the approx-quantile
    sketch (``agg_approx_quantile_contract``) is the documented
    fallback."""
    ev = table(prep(spark), sf_dir, "events")
    cents = ev.select(
        "event_type",
        "value",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("vc"),
    )
    med = cents.groupBy("event_type").agg(
        (F.median("vc") * 2).cast("long").alias("m2")
    )
    dev = cents.join(F.broadcast(med), "event_type").select(
        "event_type",
        "value",
        "m2",
        F.abs(2 * F.col("vc") - F.col("m2")).alias("a2"),
    )
    mad = dev.groupBy("event_type").agg(
        (F.median("a2") * 2).cast("long").alias("mad4")
    )
    out = 2 * F.col("a2") > MAD_K * F.col("mad4")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.max("m2") / 200.0).alias("med"),
            (F.max("mad4") / 400.0).alias("mad"),
            F.count_if(out).alias("n_outliers"),
            F.sum(F.when(out, F.col("value").cast("decimal(38,6)")))
            .cast("double")
            .alias("outlier_value_sum"),
        )
    )
