"""Property-based tests (hypothesis) for the engine's cross-cutting
invariants — the properties that make results reproducible on a cluster:

- determinism of decimal-backed float aggregation under ANY partitioning /
  row order (the property the oracle hash comparison relies on),
- shingling matches a pure-Python specification,
- deterministic hash sampling is invariant under repartitioning,
- exact duplicate documents always become LSH candidate pairs (recall=1
  for true duplicates — the minimum guarantee a dedup pipeline must keep).
"""

from __future__ import annotations

import hashlib

import hypothesis.strategies as st
import pytest
from hypothesis import HealthCheck, given, settings

from pyspark.sql import functions as F

SLOW = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@pytest.fixture(scope="module")
def sp(spark):
    return spark


@SLOW
@given(
    values=st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ).map(lambda x: round(x, 2)),
        min_size=1,
        max_size=200,
    ),
    nparts=st.integers(min_value=1, max_value=7),
)
def test_dsum_partition_invariant(sp, values, nparts):
    """dsum bits never depend on partitioning or row order."""
    from kafka_spark_streaming_eval_spark.functions.numeric import dsum

    df = sp.createDataFrame([(v,) for v in values], "v double")
    a = df.repartition(nparts).agg(dsum("v").alias("s")).collect()[0].s
    b = df.coalesce(1).agg(dsum("v").alias("s")).collect()[0].s
    rev = sp.createDataFrame([(v,) for v in reversed(values)], "v double")
    c = rev.repartition(max(1, nparts - 1)).agg(dsum("v").alias("s")).collect()[0].s
    assert a == b == c  # exact bit equality, not approx


@SLOW
@given(
    tokens=st.lists(
        st.text(alphabet="abcdef", min_size=1, max_size=5), min_size=0, max_size=12
    )
)
def test_shingles_match_python_spec(sp, tokens):
    """shingle_rows == the 3-window specification, including <3-token docs."""
    from kafka_spark_streaming_eval_spark.operators.dedup import shingle_rows

    text = " ".join(tokens)
    # the operator lowercases and splits on single spaces
    toks = text.lower().split(" ")
    expected = sorted(
        " ".join(toks[i : i + 3]) for i in range(max(0, len(toks) - 2))
    )
    df = sp.createDataFrame([(1, text)], "doc_id long, text string")
    got = sorted(r.sh for r in shingle_rows(df).collect())
    assert got == expected


@SLOW
@given(
    ids=st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=300),
    nparts=st.integers(min_value=1, max_value=8),
)
def test_hash_sample_repartition_invariant(sp, ids, nparts):
    """The md5 sample keeps exactly the same ids whatever the layout."""
    df = sp.createDataFrame([(i,) for i in set(ids)], "event_id long")
    pred = F.substring(F.md5(F.col("event_id").cast("string")), 1, 1).isin("0", "1")
    a = sorted(r.event_id for r in df.where(pred).collect())
    b = sorted(r.event_id for r in df.repartition(nparts).where(pred).collect())
    assert a == b


def test_exact_duplicates_always_pair(spark):
    """Two byte-identical documents share every minhash band -> always a
    candidate pair (LSH recall is 1.0 for true duplicates)."""
    from kafka_spark_streaming_eval_spark.operators.dedup import lsh_candidate_pairs

    text = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, "totally different words entirely here now")],
        "doc_id long, text string",
    )
    pairs = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(df).collect()}
    assert (1, 2) in pairs
    assert all(a < b for a, b in pairs)


def test_lsh_bucket_cap_bounds_degenerate_fanout(spark):
    """An all-identical corpus collapses into single band buckets — the
    worst-case quadratic fan-out.  The per-bucket membership cap must bound
    the pair count at C(cap, 2) regardless of corpus size."""
    from kafka_spark_streaming_eval_spark.operators.dedup import (
        LSH_BUCKET_CAP,
        lsh_candidate_pairs,
    )

    n = 3 * LSH_BUCKET_CAP  # far past the cap
    text = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [(i, text) for i in range(n)], "doc_id long, text string"
    )
    capped = LSH_BUCKET_CAP * (LSH_BUCKET_CAP - 1) // 2
    assert lsh_candidate_pairs(df).count() == capped  # not C(n,2) = 18336


def test_hll_estimate_within_5pct(spark):
    """The sharded-HLL merge must land near the exact distinct count.  The
    query itself now emits the bound as a hash-checked flag; this asserts
    the same bound on the raw estimate so a regression shows the actual
    error, not just a flipped boolean."""
    from pyspark.sql import functions as SF

    from kafka_spark_streaming_eval_spark.catalog import table
    from kafka_spark_streaming_eval_spark.operators.relational import (
        agg_hll_partitioned_merge,
    )
    from tests.conftest import SF_DIR

    row = agg_hll_partitioned_merge(spark, SF_DIR).collect()[0]
    assert row.exact_users > 0
    assert row.merged_within_5pct
    ev = table(spark, SF_DIR, "events")
    raw = (
        ev.groupBy(SF.pmod(SF.col("user_id"), SF.lit(32)).alias("shard"))
        .agg(SF.hll_sketch_agg("user_id").alias("sk"))
        .agg(SF.hll_sketch_estimate(SF.hll_union_agg("sk")).alias("approx"))
        .collect()[0]
        .approx
    )
    assert abs(raw - row.exact_users) / row.exact_users < 0.05


def test_pagerank_mass_conserved(spark):
    """PageRank invariants: ranks positive, total mass ~1 (up to the
    documented 1e-15-grid quantization loss), and the trajectory is
    run-to-run identical (determinism is the scale feature)."""
    from kafka_spark_streaming_eval_spark.operators.graph import graph_pagerank_trade
    from tests.conftest import SF_DIR

    rows = graph_pagerank_trade(spark, SF_DIR).collect()
    total = sum(r.pagerank for r in rows)
    assert all(r.pagerank > 0 for r in rows)
    assert abs(total - 1.0) < 1e-9
    again = {r.node: r.pagerank for r in graph_pagerank_trade(spark, SF_DIR).collect()}
    assert {r.node: r.pagerank for r in rows} == again


def test_pagerank_intask_matches_dataframe_loop(spark, monkeypatch):
    """The r15 single-task vectorized loop must reproduce the DataFrame
    join+agg loop BIT-FOR-BIT (same IEEE ops in the same order on the same
    quantization grid) — forcing the edge-count gate to 0 re-runs the query
    through the distributed branch for the comparison."""
    from kafka_spark_streaming_eval_spark.operators import graph as G
    from tests.conftest import SF_DIR

    fast = {r.node: r.pagerank for r in G.graph_pagerank_trade(spark, SF_DIR).collect()}
    monkeypatch.setattr(G, "PR_INTASK_MAX_EDGES", -1)
    slow = {r.node: r.pagerank for r in G.graph_pagerank_trade(spark, SF_DIR).collect()}
    assert fast == slow  # exact float equality, not approx
    assert len(fast) > 0


def test_components_intask_matches_label_loop(spark, monkeypatch):
    """The r15 single-task union-find must produce exactly the rows of the
    distributed min-label-propagation loop (same components, same min-label
    component ids, same sizes) — forcing the edge-count gate to -1 re-runs
    the query through the loop branch for the comparison."""
    from kafka_spark_streaming_eval_spark.operators import dedup as D
    from tests.conftest import SF_DIR

    fast = sorted(map(tuple, D.dedup_cluster_components(spark, SF_DIR).collect()))
    monkeypatch.setattr(D, "CC_INTASK_MAX_EDGES", -1)
    slow = sorted(map(tuple, D.dedup_cluster_components(spark, SF_DIR).collect()))
    assert fast == slow
    assert len(fast) > 0


def test_events_long_ts_divisor_detects_epoch_unit(tmp_path):
    """The testdata ts encoding changed once between driver rounds already;
    if a future vintage stores epoch ms/us as a plain long, the divisor
    detection (parquet stats magnitude, no data scan) must map each unit to
    epoch-ms instead of silently dividing by the nanos constant."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_spark_streaming_eval_spark.catalog import events_long_ts_divisor

    cases = {
        1_786_650_000_000_000_000: 1_000_000,  # epoch-ns
        1_786_650_000_000_000: 1_000,  # epoch-us
        1_786_650_000_000: 1,  # epoch-ms
        1_786_650_000: -1000,  # epoch-SECONDS: negative = multiplier to ms
    }
    for v, expect in cases.items():
        p = str(tmp_path / f"ts_{expect}.parquet")
        pq.write_table(pa.table({"ts": pa.array([v, v + 5], type=pa.int64())}), p)
        assert events_long_ts_divisor(p) == expect
    # a directory of epoch-ms part files: the max spans every part file
    d = tmp_path / "ts_dir.parquet"
    d.mkdir()
    for i, v in enumerate([1_786_650_000_000, 1_786_660_000_000]):
        pq.write_table(
            pa.table({"ts": pa.array([v, v + 5], type=pa.int64())}),
            str(d / f"part-{i}.parquet"),
        )
    assert events_long_ts_divisor(str(d)) == 1
    # real timestamp-typed file: stats are datetimes -> observed default
    assert events_long_ts_divisor("/root/testdata/sf0.001/events.parquet") == 1_000_000


def test_null_battery_oracle_duckdb_version_neutral():
    """scalar_null_battery's zero_div_is_null column must not depend on the
    DuckDB version: >=1.1 defaults ieee_floating_point_ops=true, flipping
    plain x/0.0 from NULL to inf.  The oracle divides by nullif(denom, 0.0)
    so the division is x/NULL = NULL under BOTH settings — assert that under
    whichever settings this DuckDB exposes."""
    import duckdb

    expr = "SELECT (1.5 / nullif(1.5 - 1.5, 0.0)) IS NOT DISTINCT FROM NULL"
    con = duckdb.connect()
    assert con.execute(expr).fetchone()[0] is True
    for setting in ("true", "false"):
        try:
            con.execute(f"SET ieee_floating_point_ops={setting}")
        except duckdb.Error:
            continue  # knob absent in this DuckDB version
        assert con.execute(expr).fetchone()[0] is True, setting


def test_epoch_seconds_vintage_reads_real_dates(spark, tmp_path):
    """End-to-end guard for the epoch-seconds vintage: a long ts column of
    ~1.7e9 must surface as 2020s timestamps, not collapse to 1970."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_spark_streaming_eval_spark.catalog import (
        events_long_ts_divisor,
        events_ts_ms,
    )

    p = str(tmp_path / "ev_secs.parquet")
    secs = 1_754_000_000  # 2025-08-01ish
    pq.write_table(pa.table({"ts": pa.array([secs, secs + 60], type=pa.int64())}), p)
    df = events_ts_ms(spark.read.parquet(p), long_divisor=events_long_ts_divisor(p))
    years = [r.y for r in df.selectExpr("year(ts) AS y").collect()]
    assert years == [2025, 2025], years


def test_comparator_rejects_collection_cells(spark, ducks):
    """The local gate must PREDICT the driver: a query returning an array
    column has to fail locally (the driver's canonicalizer raises
    TypeError on collection cells), both at the schema gate and — if a
    bare pandas frame ever reaches it — at cell normalization."""
    import pytest as _pytest

    from tests.conftest import (
        _norm_cell,
        assert_driver_hashable_schema,
        assert_matches_oracle,
    )

    with _pytest.raises(AssertionError, match="collection-typed cell"):
        _norm_cell([1, 2, 3])
    df = spark.range(1).select("id", F.array(F.lit(1), F.lit(2)).alias("arr"))
    with _pytest.raises(AssertionError, match="collection/binary-typed"):
        assert_driver_hashable_schema(df, "gate-probe")
    with _pytest.raises(AssertionError):
        assert_matches_oracle(df, ducks, "SELECT 0 AS id, [1, 2] AS arr", "gate-probe")


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc"]), min_size=8, max_size=14
        ),
        min_size=2,
        max_size=12,
    ),
)
def test_prefix_containment_matches_bruteforce(sp, tmp_path_factory, docs):
    """Operator output == the O(n^2) brute-force spec on random corpora
    small enough that the bucket cap never binds (blocking must be
    lossless for containment, so the capped blocked join finds exactly
    the brute-force pairs)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_spark_streaming_eval_spark.operators.dedup import (
        PREFIX_PLANT_EVERY,
        PREFIX_PLANT_TOKENS,
    )
    from kafka_spark_streaming_eval_spark.plans.registry import all_queries

    d = tmp_path_factory.mktemp("pc")
    rows = [(i + 1, " ".join(toks)) for i, toks in enumerate(docs)]  # ids >= 1
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
                "text": pa.array([r[1] for r in rows]),
                "lang": pa.array(["en"] * len(rows)),
                "source": pa.array(["s"] * len(rows)),
                "n_chars": pa.array([len(r[1]) for r in rows], type=pa.int64()),
            }
        ),
        str(d / "documents.parquet"),
    )
    # Brute-force spec, including the operator's own planting rule.
    corpus = list(rows)
    for doc_id, text in rows:
        if doc_id % PREFIX_PLANT_EVERY == 0:
            corpus.append(
                (doc_id + 10000000, " ".join(text.split(" ")[:PREFIX_PLANT_TOKENS]))
            )
    eligible = [(i, t) for i, t in corpus if len(t.split(" ")) >= 8]
    expected = {
        (ia, ib)
        for ia, ta in eligible
        for ib, tb in eligible
        if len(ta) < len(tb) and tb.startswith(ta + " ")
    }
    out = all_queries()["dedup_prefix_containment"].fn(sp, str(d)).collect()
    got = {(r.contained_id, r.container_id) for r in out}
    assert got == expected


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["x", "y", "z", "w", "v"]), min_size=1, max_size=6),
        min_size=1,
        max_size=15,
    ),
)
def test_vocab_growth_matches_python_spec(sp, tmp_path_factory, docs):
    """Bin placement and cumulative totals equal a pure-Python first-seen
    computation for any corpus."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_spark_streaming_eval_spark.operators.text import VOCAB_GROWTH_BINS
    from kafka_spark_streaming_eval_spark.plans.registry import all_queries

    d = tmp_path_factory.mktemp("vg")
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
                "text": pa.array([r[1] for r in rows]),
                "lang": pa.array(["en"] * len(rows)),
                "source": pa.array(["s"] * len(rows)),
                "n_chars": pa.array([len(r[1]) for r in rows], type=pa.int64()),
            }
        ),
        str(d / "documents.parquet"),
    )
    first = {}
    for doc_id, text in rows:
        for t in text.split(" "):
            if t and (t not in first or doc_id < first[t]):
                first[t] = doc_id
    m = max(r[0] for r in rows) + 1
    bins = {}
    for fd in first.values():
        bins[fd * VOCAB_GROWTH_BINS // m] = bins.get(fd * VOCAB_GROWTH_BINS // m, 0) + 1
    out = sorted(
        all_queries()["text_vocab_growth"].fn(sp, str(d)).collect(),
        key=lambda r: r.bin,
    )
    assert {r.bin: r.new_tokens for r in out} == bins
    assert out[-1].cum_vocab == len(first)


def test_centroid_confusion_partition_invariant(spark, tmp_path):
    """The confusion matrix is bit-identical however the embeddings table
    is partitioned (the quantized-BIGINT sum property)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_spark_streaming_eval_spark.plans.registry import all_queries

    vecs = [
        [((i * 7 + j * 13) % 29 - 14) / 7.0 for j in range(16)] for i in range(60)
    ]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(60), type=pa.int64()),
                "embedding": pa.array(vecs, type=pa.list_(pa.float32())),
                "label": pa.array([i % 3 for i in range(60)], type=pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    fn = all_queries()["sim_centroid_confusion"].fn
    base = sorted(
        (r.true_label, r.pred_label, r.n_vectors)
        for r in fn(spark, str(tmp_path)).collect()
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        alt = sorted(
            (r.true_label, r.pred_label, r.n_vectors)
            for r in fn(spark, str(tmp_path)).collect()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert base == alt and sum(n for _, _, n in base) == 60


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).map(
            lambda p: (f"n{p[0]}", f"n{p[1]}")
        ),
        min_size=0,
        max_size=25,
    )
)
def test_triangle_counts_match_bruteforce(sp, edges):
    """Degree-oriented wedge counting equals the O(n^3) brute force for any
    directed multigraph input (duplicates and self-loops tolerated)."""
    import itertools

    from kafka_spark_streaming_eval_spark.operators.graph import triangle_counts

    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({n for e in und for n in e})
    expected = {}
    for a, b, c in itertools.combinations(nodes, 3):
        if (
            tuple(sorted((a, b))) in und
            and tuple(sorted((b, c))) in und
            and tuple(sorted((a, c))) in und
        ):
            for n in (a, b, c):
                expected[n] = expected.get(n, 0) + 1
    df = sp.createDataFrame(
        [(a, b) for a, b in edges] or [("zz_isolated", "zz_isolated")],
        "src string, dst string",
    )
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == expected


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["A", "B"]),
            st.integers(1, 50).map(lambda x: x * 1.0),  # value
            st.integers(1, 9),  # weight
        ),
        min_size=1,
        max_size=30,
    )
)
def test_weighted_median_matches_python_spec(sp, rows):
    """Smallest value whose cumulative weight reaches half the total —
    engine result equals the sequential-Python computation on any input
    (ties in value included)."""
    df = sp.createDataFrame(
        [(g, v, float(w)) for g, v, w in rows],
        "l_returnflag string, l_extendedprice double, l_quantity double",
    )
    # re-run the operator's reduction inline on this DataFrame (driving the
    # registered fn would need a staged parquet dir per example — too heavy)
    li = df.select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").cast("decimal(38,6)").alias("wt"),
    )
    from pyspark.sql import Window as W2

    runw = (
        W2.partitionBy("grp").orderBy("v", "wt")
        .rowsBetween(W2.unboundedPreceding, W2.currentRow)
    )
    totw = W2.partitionBy("grp")
    ranked = li.select(
        "grp", "v",
        F.sum("wt").over(runw).alias("cumw"),
        F.sum("wt").over(totw).alias("totw"),
    )
    got = {
        r.grp: r.wm
        for r in ranked.where(F.col("cumw") * 2 >= F.col("totw"))
        .groupBy("grp")
        .agg(F.min("v").alias("wm"))
        .collect()
    }
    expected = {}
    by_grp = {}
    for g, v, w in rows:
        by_grp.setdefault(g, []).append((v, w))
    for g, vw in by_grp.items():
        tot = sum(w for _, w in vw)
        cum = 0
        for v, w in sorted(vw):
            cum += w
            if cum * 2 >= tot:
                expected[g] = v
                break
    assert got == expected


def test_funnel_stage_counts_match_python_rederivation(spark):
    """Independent check the oracle cannot provide (it mirrors the same SQL
    shape): re-derive the per-user view -> click -> purchase chain with a
    sequential pure-Python scan over the raw events and compare the three
    stage counts exactly."""
    import duckdb as _dd

    from kafka_spark_streaming_eval_spark.plans.registry import all_queries
    from tests.conftest import SF_DIR

    r = all_queries()["agg_funnel_conversion"].fn(spark, SF_DIR).collect()[0]
    rows = _dd.sql(
        f"SELECT user_id, event_type, date_trunc('milliseconds', ts) AS ts "
        f"FROM read_parquet('{SF_DIR}/events.parquet') ORDER BY user_id, ts"
    ).fetchall()
    by_user = {}
    for uid, et, ts in rows:
        by_user.setdefault(uid, []).append((ts, et))
    n1 = n2 = n3 = 0
    for evs in by_user.values():
        evs.sort()
        t1 = min((t for t, e in evs if e == "view"), default=None)
        if t1 is None:
            continue
        n1 += 1
        t2 = min((t for t, e in evs if e == "click" and t > t1), default=None)
        if t2 is None:
            continue
        n2 += 1
        if any(e == "purchase" and t > t2 for t, e in evs):
            n3 += 1
    assert (r.n_view, r.n_view_click, r.n_full_funnel) == (n1, n2, n3)


def test_cohort_retention_matches_python_rederivation(spark):
    """Cohort matrix equals a sequential pure-Python re-derivation over the
    raw events (the oracle mirrors the SQL shape, so it cannot catch a
    shared misreading of 'first-activity week')."""
    import datetime

    import duckdb as _dd

    from kafka_spark_streaming_eval_spark.plans.registry import all_queries
    from tests.conftest import SF_DIR

    out = all_queries()["agg_cohort_retention"].fn(spark, SF_DIR).collect()
    got = {
        (r.cohort_week.date(), r.week_offset): r.n_active for r in out
    }
    rows = _dd.sql(
        f"SELECT user_id, CAST(date_trunc('milliseconds', ts) AS DATE) "
        f"FROM read_parquet('{SF_DIR}/events.parquet')"
    ).fetchall()

    def monday(d):
        return d - datetime.timedelta(days=d.weekday())

    weeks = {}
    for uid, d in rows:
        weeks.setdefault(uid, set()).add(monday(d))
    expected = {}
    for uid, ws in weeks.items():
        c = min(ws)
        for w in ws:
            k = (c, (w - c).days // 7)
            expected[k] = expected.get(k, 0) + 1
    assert got == expected


def test_sessionized_conversion_matches_python_rederivation(spark):
    """Session boundaries and conversion flags equal a sequential Python
    scan (oracle mirrors the SQL shape, so it cannot catch a shared
    misreading of the gap rule)."""
    import duckdb as _dd

    from kafka_spark_streaming_eval_spark.operators.relational import SESSION_GAP_MS
    from kafka_spark_streaming_eval_spark.plans.registry import all_queries
    from tests.conftest import SF_DIR

    out = {
        r.user_id: (r.n_sessions, r.n_converted)
        for r in all_queries()["window_sessionized_conversion"]
        .fn(spark, SF_DIR)
        .collect()
    }
    rows = _dd.sql(
        f"SELECT user_id, epoch_ms(date_trunc('milliseconds', ts)) AS ms, "
        f"event_type, event_id "
        f"FROM read_parquet('{SF_DIR}/events.parquet') "
        f"ORDER BY user_id, ms, event_id"
    ).fetchall()
    by_user = {}
    for uid, ms, et, eid in rows:
        by_user.setdefault(uid, []).append((ms, eid, et))
    expected = {}
    for uid, evs in by_user.items():
        sessions, cur = [], []
        prev = None
        for ms, eid, et in evs:
            if prev is not None and ms - prev > SESSION_GAP_MS:
                sessions.append(cur)
                cur = []
            cur.append((ms, et))
            prev = ms
        sessions.append(cur)
        conv = 0
        for sess_evs in sessions:
            t_view = min((m for m, e in sess_evs if e == "view"), default=None)
            last_click = max((m for m, e in sess_evs if e == "click"), default=None)
            if t_view is not None and last_click is not None and last_click > t_view:
                conv += 1
        expected[uid] = (len(sessions), conv)
    assert out == expected


def test_tpch_decimal_sums_have_100tb_headroom(spark):
    """Overflow-margin audit for the DECIMAL(38,6) determinism contract.

    Every TPC-H money sum goes through decimal(38,6) (10^32 of integer
    headroom).  This measures the WIDEST magnitudes the engine ever sums —
    the q1-style l_extendedprice*(1-l_discount)*(1+l_tax) expression, the
    q18 quantity sums, acctbal — at the test scale factor, extrapolates
    linearly to 100 TB (TPC-H sf ~ 1 GB, so 100 TB ~ sf 100_000), and
    asserts three extra orders of magnitude of safety margin.  A failure
    here means a cross-engine decimal-overflow surprise is possible before
    the driver ever sees it."""
    import re as _re

    from tests.conftest import SF_DIR
    from kafka_spark_streaming_eval_spark.catalog import table
    from kafka_spark_streaming_eval_spark.session import prep

    sf = float(_re.search(r"sf([\d.]+)", SF_DIR).group(1))
    scale_up = 100_000 / sf  # linear row-count ratio to the 100 TB corpus
    prep(spark)
    li = table(spark, SF_DIR, "lineitem")
    cu = table(spark, SF_DIR, "customer")
    price = F.col("l_extendedprice").cast("decimal(38,6)")
    disc = F.col("l_discount").cast("decimal(38,6)")
    tax = F.col("l_tax").cast("decimal(38,6)")
    widest = li.agg(
        F.sum(F.abs(price * (1 - disc) * (1 + tax))).alias("q1_charge"),
        F.sum(F.abs(price)).alias("price"),
        F.sum(F.abs(F.col("l_quantity").cast("decimal(38,6)"))).alias("qty"),
    ).collect()[0]
    acct = cu.agg(
        F.sum(F.abs(F.col("c_acctbal").cast("decimal(38,6)"))).alias("a")
    ).collect()[0]
    cap = 10**32  # integer digits available in decimal(38,6)
    for label, total in [
        ("q1_charge", widest["q1_charge"]),
        ("price", widest["price"]),
        ("qty", widest["qty"]),
        ("acctbal", acct["a"]),
    ]:
        projected = float(total) * scale_up
        assert projected * 1e3 < cap, (
            f"{label}: sf{sf} sum {float(total):.3e} projects to "
            f"{projected:.3e} at 100 TB — under 3 orders of headroom vs 1e32"
        )


def _mini_sf(tmp_path, spark, events=None, documents=None):
    """Write a synthetic sf_dir with engine-schema parquet tables."""
    import duckdb as _dd

    d = str(tmp_path / "sf_synth")
    import os as _os

    _os.makedirs(d, exist_ok=True)
    if events is not None:
        spark.createDataFrame(
            events, "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string"
        ).coalesce(1).write.mode("overwrite").parquet(d + "/events.parquet")
    if documents is not None:
        spark.createDataFrame(
            documents, "doc_id long, text string, lang string, "
            "source string, n_chars long"
        ).coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")
    con = _dd.connect()
    for t in ("events", "documents"):
        if (events if t == "events" else documents) is not None:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet/*.parquet')"
            )
    return d, con


def test_quantile_contract_survives_heavy_median_ties(spark, tmp_path):
    """ADVICE r3 scenario: with most mass at one value, count(<=)/n is far
    above 0.5 even when the sketch keeps its rank guarantee — the old
    interval-max check would flag false and hash-mismatch the TRUE-oracle.
    The interval-overlap contract must stay true."""
    import datetime as dt

    from kafka_spark_streaming_eval_spark.operators.relational import (
        agg_approx_quantile_contract,
    )

    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(2000):
        # 90% of values identical at the median, a thin tail on each side
        v = 50.0 if i % 10 < 9 else (1.0 if i % 20 == 9 else 99.0)
        rows.append((i, base + dt.timedelta(seconds=i), i % 7, "click", v, "{}"))
    d, con = _mini_sf(tmp_path, spark, events=rows)
    out = {r.event_type: r for r in agg_approx_quantile_contract(spark, d).collect()}
    assert out["click"].approx_rank_ok is True
    assert out["click"].exact_median == 50.0
    # the old (interval-max) formula indeed rejects this distribution,
    # proving the scenario is real and the new contract is the fix
    n = 2000
    am = 50.0
    le = sum(1 for r in rows if r[4] <= am)
    assert abs(le / n - 0.5) > 1.0 / 100 + 1.0 / n


def test_length_buckets_overflow_doc_never_negative_waste(spark, tmp_path):
    """ADVICE r3 scenario: a document longer than the 8192-token cap must
    not produce padded_tokens < sum_tokens (negative pad_waste_frac).  The
    overflow bucket pads to its actual max length; Spark and the DuckDB
    oracle agree on the corrected accounting."""
    from kafka_spark_streaming_eval_spark.operators.pipeline import (
        pipeline_length_buckets,
    )
    from kafka_spark_streaming_eval_spark.plans.registry import all_queries
    from tests.conftest import assert_matches_oracle

    docs = [
        (1, "tok " * 9000 + "tok", "en", "web", 4 * 9001),  # 9001 tokens: overflow
        (2, "a b c", "en", "web", 5),
        (3, "w " * 8500 + "w", "en", "web", 2 * 8501),  # 8501 tokens: overflow
    ]
    d, con = _mini_sf(tmp_path, spark, documents=docs)
    rows = {r.bucket_tokens: r for r in pipeline_length_buckets(spark, d).collect()}
    over = rows[8192]
    assert over.n_docs == 2
    assert over.padded_tokens == 2 * 9001  # pad-to-longest in the bucket
    assert over.padded_tokens >= over.sum_tokens
    assert over.pad_waste_frac >= 0.0
    assert rows[16].pad_waste_frac >= 0.0
    # full cross-engine agreement on the synthetic corpus
    spec = all_queries()["pipeline_length_buckets"]
    assert_matches_oracle(
        pipeline_length_buckets(spark, d), con, spec.oracle, "pipeline_length_buckets"
    )


def test_rolling_corr_grid_envelope_at_100tb(spark):
    """window_rolling_corr quantizes daily value sums as v = floor(y*1e3)
    and multiplies v*v in DECIMAL(18,0): v fits DECIMAL(18,0) up to
    |v| < 1e18 and the product stays exact inside both engines' 38-digit
    cap, giving a practical envelope of |daily sum| <= ~1e12 with the
    1e3 grid.
    Project the measured per-(event_type, day) max to 100 TB and assert it
    stays inside the envelope with margin — the overflow mode the round-4
    review found in the earlier floor(y^2*1e6)-as-BIGINT form."""
    import re as _re

    from tests.conftest import SF_DIR
    from kafka_spark_streaming_eval_spark.catalog import table
    from kafka_spark_streaming_eval_spark.session import prep

    sf = float(_re.search(r"sf([\d.]+)", SF_DIR).group(1))
    scale_up = 100_000 / sf
    prep(spark)
    ev = table(spark, SF_DIR, "events")
    worst = (
        ev.groupBy("event_type", F.date_trunc("day", "ts"))
        .agg(F.sum(F.abs(F.col("value").cast("decimal(38,6)"))).alias("y"))
        .agg(F.max("y").alias("m"))
        .collect()[0]["m"]
    )
    projected = float(worst) * scale_up
    assert projected * 10 < 1e12, (
        f"daily-sum {float(worst):.3e} at sf{sf} projects to {projected:.3e} "
        f"at 100 TB — outside the rolling-corr DECIMAL(18,0) grid envelope"
    )


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["x", "y", "z", "w", "v"]), min_size=1, max_size=12),
        min_size=1,
        max_size=10,
    ),
)
def test_cdc_chunks_match_python_spec(sp, tmp_path_factory, docs):
    """The full CDC ledger (chunk counts, token conservation, shared mass)
    equals a pure-Python hashlib rederivation for ANY corpus — boundaries,
    chunk ids, and the >=2-distinct-docs sharing rule alike."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_spark_streaming_eval_spark.operators.curation import CDC_MOD
    from kafka_spark_streaming_eval_spark.plans.registry import all_queries

    d = tmp_path_factory.mktemp("cdc")
    rows = [(i, " ".join(toks), "s" + str(i % 2)) for i, toks in enumerate(docs)]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
                "text": pa.array([r[1] for r in rows]),
                "lang": pa.array(["en"] * len(rows)),
                "source": pa.array([r[2] for r in rows]),
                "n_chars": pa.array([len(r[1]) for r in rows], type=pa.int64()),
            }
        ),
        str(d / "documents.parquet"),
    )

    def chunks_of(text):
        t = text.split(" ")
        n = len(t)
        bpos = [
            i
            for i in range(1, n + 1)
            if i == n
            or int(hashlib.md5(t[i - 1].encode()).hexdigest()[:2], 16) % CDC_MOD == 0
        ]
        out, start = [], 1
        for b in bpos:
            seg = t[start - 1 : b]
            out.append(
                (hashlib.md5(" ".join(seg).encode()).hexdigest(), len(seg))
            )
            start = b + 1
        return out

    per_chunk_docs: dict = {}
    per_source: dict = {}
    for doc_id, text, source in rows:
        for cid, ntok in chunks_of(text):
            per_chunk_docs.setdefault(cid, set()).add(doc_id)
    for doc_id, text, source in rows:
        ledger = per_source.setdefault(
            source, {"n_chunks": 0, "n_tokens": 0, "n_shared": 0, "shared_mass": 0}
        )
        for cid, ntok in chunks_of(text):
            ledger["n_chunks"] += 1
            ledger["n_tokens"] += ntok
            if len(per_chunk_docs[cid]) >= 2:
                ledger["n_shared"] += 1
                ledger["shared_mass"] += ntok

    out = all_queries()["dedup_cdc_chunks"].fn(sp, str(d)).collect()
    got = {
        r.source: (r.n_chunks, r.n_tokens, r.n_shared_chunks, r.shared_token_mass)
        for r in out
    }
    want = {
        s: (v["n_chunks"], v["n_tokens"], v["n_shared"], v["shared_mass"])
        for s, v in per_source.items()
    }
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "bb", "ccc", "dd", "e"]), min_size=1, max_size=10),
        min_size=1,
        max_size=8,
    ),
    weights=st.lists(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=8),
)
def test_priority_sample_matches_python_spec(sp, tmp_path_factory, docs, weights):
    """The sampled set (ids, char mass) equals the pure-Python DLT
    rederivation for any corpus and any weight vector, including zero
    weights (clamped to 1)."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_spark_streaming_eval_spark.operators.curation import SAMPLE_K
    from kafka_spark_streaming_eval_spark.plans.registry import all_queries

    d = tmp_path_factory.mktemp("psamp")
    rows = [
        (i, " ".join(toks), weights[i % len(weights)])
        for i, toks in enumerate(docs)
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
                "text": pa.array([r[1] for r in rows]),
                "lang": pa.array(["en"] * len(rows)),
                "source": pa.array(["s"] * len(rows)),
                "n_chars": pa.array([r[2] for r in rows], type=pa.int64()),
            }
        ),
        str(d / "documents.parquet"),
    )

    def pri(doc_id, w):
        u = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)
        return (u / max(w, 1), doc_id)

    expected = sorted(((pri(i, w), i, w) for i, _, w in rows))[:SAMPLE_K]
    row = all_queries()["pipeline_priority_sample"].fn(sp, str(d)).collect()[0]
    assert row.n_sampled == min(SAMPLE_K, len(rows))
    assert row.sampled_id_checksum == sum(i for _, i, _ in expected)
    assert row.sampled_chars == sum(w for _, _, w in expected)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=9999),  # cents: exact in DECIMAL(18,2)
        min_size=8,
        max_size=20,
    ),
)
def test_ewma_matches_python_fraction_spec(sp, tmp_path_factory, vals):
    """Every complete window's scaled EWMA equals the exact-fraction
    Python rederivation (integer weights over cents) for any value
    series — no float pow, no accumulation drift."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_spark_streaming_eval_spark.operators.curation import EWMA_WEIGHTS
    from kafka_spark_streaming_eval_spark.plans.registry import all_queries

    d = tmp_path_factory.mktemp("ewma")
    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(seconds=i), 7, "view", c / 100.0, "{}")
        for i, c in enumerate(vals)
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], type=pa.int64()),
                "ts": pa.array([r[1] for r in rows], type=pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], type=pa.int64()),
                "event_type": pa.array([r[3] for r in rows]),
                "value": pa.array([r[4] for r in rows], type=pa.float64()),
                "props": pa.array([r[5] for r in rows]),
            }
        ),
        str(d / "events.parquet"),
    )
    # python spec in exact cents: scaled_ewma_cents = sum(w_i * cents[t-i])
    n = len(EWMA_WEIGHTS)
    cents = vals
    expected = [
        sum(w * cents[t - i] for i, w in enumerate(EWMA_WEIGHTS))
        for t in range(n - 1, len(cents))
    ]
    row = all_queries()["window_ewma_exact"].fn(sp, str(d)).collect()[0]
    assert row.n_windows == len(expected)
    assert row.ewma_scaled_sum == sum(expected) / 100.0
    assert row.ewma_scaled_min == min(expected) / 100.0
    assert row.ewma_scaled_max == max(expected) / 100.0


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=9999),  # cents
        min_size=1,
        max_size=25,
    ),
)
def test_mad_outliers_match_python_spec(sp, tmp_path_factory, vals):
    """med, MAD, the outlier COUNT, and the outlier value mass all equal a
    pure-Python EXACT-RATIONAL rederivation (integer cents, 2x-median
    integers, integer outlier compare) for any value distribution —
    the ADVICE-r5 hardening: no engine median formula or IEEE rounding
    mode can move the result, because every compare is integer."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_spark_streaming_eval_spark.operators.curation import MAD_K
    from kafka_spark_streaming_eval_spark.plans.registry import all_queries

    d = tmp_path_factory.mktemp("mad")
    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(seconds=i), 7, "view", c / 100.0, "{}")
        for i, c in enumerate(vals)
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], type=pa.int64()),
                "ts": pa.array([r[1] for r in rows], type=pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], type=pa.int64()),
                "event_type": pa.array([r[3] for r in rows]),
                "value": pa.array([r[4] for r in rows], type=pa.float64()),
                "props": pa.array([r[5] for r in rows]),
            }
        ),
        str(d / "events.parquet"),
    )
    def med2(xs: list[int]) -> int:
        """2 x median of integers, exactly (sum of the two middle values)."""
        s = sorted(xs)
        n = len(s)
        return s[n // 2] + s[(n - 1) // 2]

    m2 = med2(vals)  # 2*median in cents — integer
    a2 = [abs(2 * v - m2) for v in vals]  # 2*adev in cents — integer
    mad4 = med2(a2)  # 4*MAD in cents — integer
    out_idx = [i for i, a in enumerate(a2) if 2 * a > MAD_K * mad4]
    row = all_queries()["quality_mad_outliers"].fn(sp, str(d)).collect()[0]
    assert row.n_rows == len(vals)
    assert row.med == m2 / 200.0 and row.mad == mad4 / 400.0
    assert row.n_outliers == len(out_idx)
    if out_idx:
        assert row.outlier_value_sum == sum(vals[i] for i in out_idx) / 100.0
    else:
        assert row.outlier_value_sum is None


def test_catalog_events_ts_is_ms_truncated(spark):
    """ADVICE-r5 closure (window_ewma_exact / join_asof_attribution ordering):
    a cross-engine window orderBy over events.ts can only diverge if the two
    engines sort different keys.  They cannot: catalog.table ms-truncates ts
    on the Spark side (events_ts_ms) and every oracle mirrors it with
    date_trunc('milliseconds', ts) (_EV).  This pins the Spark half of that
    contract — no sub-millisecond residue may survive the catalog scan, at
    any SF vintage."""
    from kafka_spark_streaming_eval_spark.catalog import table
    from tests.conftest import SF_DIR

    bad = (
        table(spark, SF_DIR, "events")
        .selectExpr("count_if(unix_micros(ts) % 1000 != 0) AS bad")
        .collect()[0]
        .bad
    )
    assert bad == 0


@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),  # doc id (deduped below)
            st.integers(min_value=0, max_value=3),      # domain: few -> skewable
            st.integers(min_value=0, max_value=7),      # shard (8, like the op)
        ),
        min_size=0,
        max_size=300,
    ),
    cap=st.integers(min_value=1, max_value=12),
)
@settings(max_examples=200, deadline=None)
def test_two_level_cap_composition_under_arbitrary_skew(docs, cap):
    """pipeline_domain_cap's algebra, hypothesis-checked Spark-free: for ANY
    document/domain/shard distribution — including the head-domain case the
    testdata's md5-uniform domains never produce (all 300 docs in ONE domain)
    — the (domain, shard) cap-then-recap selects EXACTLY the one-level
    per-domain top-cap set, and no (domain, shard) reducer ever emits more
    than cap rows.  Rank key is an arbitrary injective function of doc id
    (hash), mirroring the operator's md5(doc_id||':rank')."""
    seen = set()
    rows = []
    for doc, dom, shard in docs:
        if doc in seen:
            continue
        seen.add(doc)
        # seed-independent rank key (NOT builtin hash(): PYTHONHASHSEED would
        # make failing hypothesis examples unreplayable across processes);
        # mirrors the operator's md5(doc_id||':rank') derivation.
        rk = int(hashlib.md5(f"{doc}:rank".encode()).hexdigest()[:16], 16)
        rows.append((doc, dom, shard, (rk, doc)))

    def topk(items, k):
        return sorted(items, key=lambda r: r[3])[:k]

    # one-level reference: per-domain top-cap
    by_dom = {}
    for r in rows:
        by_dom.setdefault(r[1], []).append(r)
    expect = {d: {r[0] for r in topk(rs, cap)} for d, rs in by_dom.items()}

    # two-level: per-(dom, shard) top-cap, then per-dom top-cap of survivors
    by_ds = {}
    for r in rows:
        by_ds.setdefault((r[1], r[2]), []).append(r)
    lvl1 = {}
    for (d, s), rs in by_ds.items():
        kept = topk(rs, cap)
        assert len(kept) <= cap  # the per-reducer output bound
        lvl1.setdefault(d, []).extend(kept)
    got = {d: {r[0] for r in topk(rs, cap)} for d, rs in lvl1.items()}

    assert got == expect
    # level-1 survivor mass bound: <= shards * cap per domain
    assert all(len(rs) <= 8 * cap for rs in lvl1.values())
