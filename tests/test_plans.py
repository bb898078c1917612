"""Physical-plan assertions: the scale properties the engine relies on at
100 TB must be visible in the optimized plan at any SF — partition pruning,
predicate pushdown into the parquet scan, broadcast joins for dimensions,
and no accidental cartesian products anywhere in the registry."""

from __future__ import annotations

import re

import pytest

from kafka_spark_streaming_eval_spark.plans.registry import all_queries
from tests.conftest import SF_DIR

SPECS = all_queries()


def plan_of(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_partition_pruning(spark):
    """The event_type predicate lands in PartitionFilters (directory-level
    pruning), not a post-scan Filter over all rows."""
    df = SPECS["src_partition_pruned_scan"].fn(spark, SF_DIR)
    plan = plan_of(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), plan[:2000]


def test_predicate_pushdown_q1(spark):
    """TPC-H Q1's shipdate filter reaches the parquet scan."""
    df = SPECS["tpch_q1_pricing_summary"].fn(spark, SF_DIR)
    plan = plan_of(df)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("l_shipdate" in p for p in pushed), plan[:2000]


def test_star_join_broadcasts(spark):
    """Every dimension in the star join is broadcast — no sort-merge shuffle
    of the fact table against a dimension."""
    df = SPECS["join_star_revenue"].fn(spark, SF_DIR)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 4, plan[:2000]
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name", sorted(n for n in SPECS if n not in ("stream_stateful_running_count",))
)
def test_no_cartesian_product(name, spark):
    """No registry query may degenerate into CartesianProduct.  (The
    stateful-streaming query is excluded: it must actually RUN a streaming
    query to return a DataFrame, which this sweep shouldn't trigger.)"""
    df = SPECS[name].fn(spark, SF_DIR)
    assert "CartesianProduct" not in plan_of(df)


def test_bucketed_join_no_exchange(spark):
    """The bucketed co-located join's EXECUTED plan (post-AQE) contains a
    SortMergeJoin and zero Exchange nodes: scan -> join -> same-key agg all
    reuse the on-disk bucketing.  This is the property that makes fact-fact
    joins shuffle-free at 100 TB."""
    df = SPECS["src_bucketed_colocated_join"].fn(spark, SF_DIR)
    df.collect()  # finalize AQE so the executed plan is the real one
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan[:2000]
    assert "Exchange" not in plan, plan[:2000]
    assert "SelectedBucketsCount" in plan, plan[:2000]


def test_scd2_single_window_shuffle(spark):
    """Both SCD2 window passes (lag for change points, lead for interval
    close) share one user_id partitioning — exactly one exchange."""
    df = SPECS["etl_scd2_intervals"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_merge_upsert_single_fact_scan(spark):
    """The changeset fan-out (U/D row + insert row per key) is an explode
    over ONE orders aggregation — a union formulation would scan and
    aggregate orders twice."""
    df = SPECS["etl_merge_upsert"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 2  # customer + orders, once each


def test_compaction_reduces_files(spark):
    """etl_compaction_binpack: the compacted copy must have strictly fewer
    files than the fragmented copy, and the audit agg runs over it.

    Not an exact-48 assert: Spark writes no part file for an empty
    partition, so at a small test scale factor some of the 48 round-robin
    partitions may be empty."""
    import glob
    import os

    SPECS["etl_compaction_binpack"].fn(spark, SF_DIR).collect()
    # staging dirs are per-call fresh (fresh_scratch_dir): take the newest
    latest = lambda tag: max(  # noqa: E731
        glob.glob(f"/tmp/sgraft_{os.getpid()}_{tag}_*"), key=os.path.getmtime
    )
    n_frag = len(glob.glob(f"{latest('li_frag')}/part-*"))
    n_comp = len(glob.glob(f"{latest('li_compact')}/part-*"))
    assert n_comp <= 4, n_comp
    assert n_frag > n_comp, (n_frag, n_comp)


def test_lateral_topk_decorrelates_to_window(spark):
    """join_lateral_topk: Spark must decorrelate the LATERAL ORDER BY/LIMIT
    into a ranked-window plan, not execute a per-row subquery."""
    df = SPECS["join_lateral_topk"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan, plan[:2000]


def test_runtime_bloom_filter_injection(spark):
    """Runtime row-level filtering: with a selective filter on the creation
    side of a shuffle join, Catalyst injects a bloom-filter semi-join
    reduction into the fact-side scan (might_contain on the join key) —
    at 100 TB this prunes shuffle input before the exchange.  Thresholds
    are lowered because test data is tiny; production defaults engage at
    10MB creation / 10GB application sizes."""
    from pyspark.sql import functions as F

    from kafka_spark_streaming_eval_spark.catalog import table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = table(spark, SF_DIR, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = table(spark, SF_DIR, "lineitem")
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_lsh_bucket_cap_map_side_prune(spark):
    """The LSH bucket cap must compile to WindowGroupLimit with a Partial
    (map-side) phase: each task prunes its buckets to the cap BEFORE the
    shuffle, so a degenerate bucket never even shuffles more than
    cap * n_tasks rows — and the window's band-key exchange is reused by
    the collect_list aggregate (no extra exchange between them)."""
    df = SPECS["dedup_minhash_lsh_pairs"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "row_number(), 64, Partial" in plan  # map-side prune at the cap
    # signatures (doc_id) + bucket window/agg (band key) + pair distinct
    assert plan.count("Exchange hashpartitioning") == 3, plan.count(
        "Exchange hashpartitioning"
    )


def test_registry_rotation_unverified_first():
    """queries() ordering is coverage policy: every query without a green
    CORRECTNESS row from a past round must precede every verified one, so
    a prefix-budgeted driver run always verifies new queries first."""
    from kafka_spark_streaming_eval_spark.plans.registry import (
        _last_green_round,
        all_queries,
    )

    green = _last_green_round()
    if not green:
        import pytest

        pytest.skip("no CORRECTNESS_r*.json reports present")
    order = list(all_queries())
    positions = {n: i for i, n in enumerate(order)}
    last_unverified = max(
        (positions[n] for n in order if n not in green), default=-1
    )
    first_green = min(positions[n] for n in order if n in green)
    assert last_unverified < first_green


def test_registry_fallback_root_is_repo_root():
    """_last_green_round's package-relative fallback must resolve to the
    repo root (where CORRECTNESS_r*.json live), independent of cwd — one
    dirname too many lands on the repo's PARENT and rotation silently
    degrades to registration order."""
    import glob
    import os

    from kafka_spark_streaming_eval_spark.plans import registry

    here = os.path.abspath(registry.__file__)
    root = os.path.dirname(os.path.dirname(os.path.dirname(here)))
    assert os.path.basename(root) != "", root
    # the fallback root must be the directory that actually holds the reports
    committed = glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
    if not committed:
        import pytest

        pytest.skip("no CORRECTNESS reports committed yet")
    # and _last_green_round must see them even from a foreign cwd
    cwd = os.getcwd()
    try:
        os.chdir("/tmp")
        assert registry._last_green_round(), (
            "rotation found no green rows with cwd outside the repo"
        )
    finally:
        os.chdir(cwd)


def test_decontaminate_broadcasts_eval_set(spark):
    """text_decontaminate_ngrams: the eval-slice shingles must broadcast so
    the corpus side stays map-only (no corpus-wide shuffle for the
    semi-join), and nothing degenerates to sort-merge or cartesian."""
    df = SPECS["text_decontaminate_ngrams"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 2, plan[:2000]
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pack_sequences_single_exchange(spark):
    """pipeline_pack_sequences: the running-sum window and the bin agg must
    share the one (lang, shard) exchange — a second shuffle would mean the
    agg key dropped the stream key."""
    df = SPECS["pipeline_pack_sequences"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one KEY exchange total, shared by window + agg; the catalog's
    # spread_small_scan exchange (hashpartitioning(doc_id, ...), r14 input
    # -skew fix) is scan plumbing, not a second key shuffle
    key_exchanges = plan.count("Exchange hashpartitioning") - plan.count(
        "Exchange hashpartitioning(doc_id"
    )
    assert key_exchanges == 1, plan[:2000]


def test_sample_k_per_group_window_group_limit(spark):
    """sample_k_per_group: the rank<=k filter must push into the window as
    a WindowGroupLimit (per-partition k-row heap per group), so no
    partition ever fully sorts — the property that keeps a per-group
    sample linear at 100 TB."""
    df = SPECS["sample_k_per_group"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_stratified_split_map_only_before_agg(spark):
    """pipeline_stratified_split: placement is a pure projection — the only
    exchange is the final (source, lang, split) aggregation."""
    df = SPECS["pipeline_stratified_split"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one KEY exchange (the final agg); the spread_small_scan doc_id
    # exchange (r14 input-skew fix) is scan plumbing, not a key shuffle
    key_exchanges = plan.count("Exchange hashpartitioning") - plan.count(
        "Exchange hashpartitioning(doc_id"
    )
    assert key_exchanges == 1, plan[:2000]
    assert "Join" not in plan


def test_dynamic_partition_pruning_injected(spark, tmp_path):
    """Partition-pruning at runtime: joining a PARTITIONED fact table
    against a dimension carrying a selective filter must inject a dynamic
    pruning subquery into the fact scan (DPP) — at 100 TB this skips
    whole partitions of the fact side based on the dim filter's join keys,
    the partition-level complement of the bloom-filter row test above."""
    from pyspark.sql import functions as F

    from kafka_spark_streaming_eval_spark.catalog import table

    fact_dir = str(tmp_path / "events_by_type")
    table(spark, SF_DIR, "events").write.partitionBy("event_type").parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    # the selective predicate sits on a DERIVED column, not the join key, so
    # it cannot be statically pushed into the fact scan — only DPP can prune
    dim = (
        table(spark, SF_DIR, "events")
        .select("event_type")
        .distinct()
        .withColumn("first_char", F.substring("event_type", 1, 1))
        .where(F.col("first_char") == "p")
    )
    saved = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", None)
    try:
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false"
        )
        j = fact.join(dim, "event_type").groupBy("event_type").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower() or "SubqueryAdaptiveBroadcast" in plan, plan[:3000]
        assert j.collect()[0]["event_type"] == "purchase"
    finally:
        if saved is None:
            spark.conf.unset(
                "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly"
            )
        else:
            spark.conf.set(
                "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", saved
            )


def test_fake_decoder_used_only_by_documented_queries():
    """Grep-proof guard: the deterministic media-decode stand-in
    (`operators/multimodal.py:make_fake_decoder`, plus the
    `decode_image`/`decode_audio` NotImplementedError raisers) must never be
    referenced outside `operators/multimodal.py`, and inside it only by the
    queries that DOCUMENT the fake (`mm_fake_decode_features`).  This keeps
    a future query from silently depending on fake features as if a real
    codec produced them."""
    import glob
    import os

    import kafka_spark_streaming_eval_spark as pkg

    root = os.path.dirname(pkg.__file__)
    offenders = []
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, root)
        with open(path) as f:
            src = f.read()
        for marker in ("make_fake_decoder", "fake_decode", "decode_image", "decode_audio"):
            if marker in src and rel != os.path.join("operators", "multimodal.py"):
                offenders.append((rel, marker))
    assert not offenders, f"fake-decode markers leaked outside multimodal.py: {offenders}"

    # Inside multimodal.py, every registered query whose body touches the
    # fake decoder must carry 'fake' in its registered name (self-labeling).
    # The PNG path is exempt since round 6: decode_image is REAL for PNG
    # blobs (functions/png.py), so a query named *png* using it is not a
    # fake-feature dependency.
    import inspect

    from kafka_spark_streaming_eval_spark.plans.registry import all_queries

    for name, spec in all_queries().items():
        try:
            src = inspect.getsource(spec.fn)
        except (OSError, TypeError):
            continue
        if "make_fake_decoder" in src:
            assert "fake" in name, (
                f"query {name} uses the fake decoder without labeling itself"
            )
        elif "decode_image" in src:
            assert "fake" in name or "png" in name, (
                f"query {name} uses decode_image without a fake/png label"
            )


def test_pagerank_lineage_truncated_by_checkpoint(spark):
    """The 15-iteration PageRank loop localCheckpoints every 5th round and on
    the final round, so the RETURNED plan must be a checkpoint scan — not 15
    nested join+agg layers (at 100x scale an untruncated loop plan blows up
    Catalyst analysis time before a single task runs).  Guard the knee: the
    final optimized plan contains no Join at all."""
    from kafka_spark_streaming_eval_spark.operators.graph import graph_pagerank_trade

    df = graph_pagerank_trade(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, f"lineage not truncated:\n{plan[:2000]}"
    assert len(plan) < 4000, f"plan unexpectedly deep ({len(plan)} chars)"


def test_content_hash_resets_on_body_or_oracle_change_not_docstring():
    """VERDICT r6 item 2: the rotation's staleness key must fold in a
    content hash so a rewritten query re-enters never-green — but pure
    documentation edits must NOT reset a green stamp."""
    from kafka_spark_streaming_eval_spark.plans.registry import (
        QuerySpec,
        content_hash,
    )

    def q_base(spark, sf_dir):
        """doc A"""
        return spark.range(1)

    def q_docstring_only(spark, sf_dir):
        """a completely different docstring, same body"""
        return spark.range(1)

    def q_comment_only(spark, sf_dir):
        """doc A"""
        # a new comment does not change behavior
        return spark.range(1)

    def q_body_change(spark, sf_dir):
        """doc A"""
        return spark.range(2)

    base = content_hash(QuerySpec("q", q_base, "SELECT 1", "t"))
    assert content_hash(QuerySpec("q", q_docstring_only, "SELECT 1", "t")) == base
    assert content_hash(QuerySpec("q", q_comment_only, "SELECT 1", "t")) == base
    assert content_hash(QuerySpec("q", q_body_change, "SELECT 1", "t")) != base
    assert content_hash(QuerySpec("q", q_base, "SELECT 2", "t")) != base


def test_ledger_hash_mismatch_resets_query_to_never_green(monkeypatch):
    """A green CORRECTNESS row only counts for the code it verified: if the
    ledger's recorded hash no longer matches the query's current content
    hash, the query must drop out of the green set and sort into the
    never-green rotation prefix."""
    from kafka_spark_streaming_eval_spark.plans import registry

    green = registry._last_green_round()
    assert green, "no green queries — CORRECTNESS reports missing?"
    victim = sorted(green)[0]
    fake = dict(registry._green_hash_ledger())
    fake[victim] = {"hash": "0" * 32, "round": green[victim]}
    monkeypatch.setattr(registry, "_green_hash_ledger", lambda: fake)
    green2 = registry._last_green_round()
    assert victim not in green2
    names = list(registry.all_queries())
    first_green = next(i for i, n in enumerate(names) if n in green2)
    assert names.index(victim) < first_green, (
        "hash-reset query does not sort into the never-green prefix"
    )


def test_green_hash_ledger_attests_current_code():
    """Protocol enforcement: every ledger entry's hash must match the
    query's CURRENT content hash.  Rewriting a registered query makes this
    fail until the entry is dropped (query re-verifies as never-green) or
    legitimately re-stamped at round start — forgetting is what let three
    r6 rewrites keep stale green stamps (VERDICT r6)."""
    from kafka_spark_streaming_eval_spark.plans import registry

    specs = registry.all_queries()
    ledger = registry._green_hash_ledger()
    assert ledger, "green-hash ledger missing"
    stale = {
        name
        for name, rec in ledger.items()
        if name in specs and rec.get("hash") != registry.content_hash(specs[name])
    }
    assert not stale, (
        f"ledger hash out of date for {sorted(stale)}: the query body/oracle "
        "changed since its green stamp — drop the ledger entry so it "
        "re-verifies, or re-stamp at round start"
    )
    orphans = set(ledger) - set(specs)
    assert not orphans, f"ledger entries for unregistered queries: {sorted(orphans)}"


def test_rotation_order_never_green_first():
    """The driver's per-round budget covers a PREFIX of queries(), so the
    ordering IS the coverage policy: every query without a green
    CORRECTNESS row must sort before every verified one, and round-N
    additions (operators/corpus.py, imported last in registry._load_all)
    must sort after all OLDER never-green queries so they never displace
    the draining backlog."""
    from kafka_spark_streaming_eval_spark.plans.registry import (
        _last_green_round,
        all_queries,
    )

    names = list(all_queries())
    green = _last_green_round()
    flags = [n in green for n in names]
    # monotone: once a green query appears, no never-green may follow
    first_green = flags.index(True) if True in flags else len(flags)
    assert all(flags[first_green:]), "a never-green query sorts after a green one"
    never = [n for n in names if n not in green]
    if never:
        from kafka_spark_streaming_eval_spark.operators import corpus, curation

        late = {
            n
            for n in never
            if getattr(corpus, n, None) is not None
            or getattr(curation, n, None) is not None
        }
        if late:
            cutoff = max(
                (never.index(n) for n in set(never) - late), default=-1
            )
            assert all(never.index(n) > cutoff for n in late), (
                "late-round additions displace the older never-green backlog"
            )
    # the whole never-green set must fit inside the driver's 50-query
    # budget, or some backlog query silently waits another round
    assert len(never) <= 50, (
        f"{len(never)} never-green queries exceed the 50-query driver budget"
    )


def test_plan_audit_covers_registry():
    """PLAN_AUDIT.txt can never silently under-cover again (VERDICT r5
    item 5): the audited row names plus the named _EXEC_ON_BUILD
    exclusions must partition the full registry exactly — every excluded
    name must also appear in the file's header so the provenance is
    readable in-file."""
    import os

    from kafka_spark_streaming_eval_spark.plans.audit import _EXEC_ON_BUILD
    from kafka_spark_streaming_eval_spark.plans.registry import all_queries

    from kafka_spark_streaming_eval_spark.plans.coverage_gen import _audit_rows

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "PLAN_AUDIT.txt")
    with open(path) as f:
        lines = f.readlines()
    header_text = "".join(line for line in lines if line.startswith("#"))
    # SAME parser as the COVERAGE.md generator (strict: a malformed data
    # row raises), so this invariant and the generated stats can never
    # read the file two different ways.
    rows = set(_audit_rows(path))
    registry = set(all_queries())
    for name in _EXEC_ON_BUILD:
        assert name in header_text, f"exclusion {name} not named in the header"
    assert rows.isdisjoint(_EXEC_ON_BUILD)
    missing = registry - rows - _EXEC_ON_BUILD
    stale = rows - registry
    assert not missing, f"registry queries with no audit row: {sorted(missing)}"
    assert not stale, f"audit rows for unregistered queries: {sorted(stale)}"
    assert len(rows) + len(_EXEC_ON_BUILD) == len(registry)


def test_plan_audit_annotates_checkpoint_truncated_rows():
    """VERDICT r6 item 7: iterative queries' audit rows are lineage-
    truncated by localCheckpoint — they must carry an explicit trunc:N
    marker (runtime-spy-detected, plans/audit.py) and the header must
    document the full un-truncated lineage so the '0 cartesians' claim is
    audit-true for checkpoint-hidden stages too."""
    import os

    from kafka_spark_streaming_eval_spark.plans.coverage_gen import _audit_rows

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "PLAN_AUDIT.txt")
    rows = _audit_rows(path)
    truncd = {n for n, a in rows.items() if a.get("trunc")}
    # the known iterative/localCheckpoint queries must be flagged — a
    # regeneration that silently lost the spy would fail here
    expected = {
        "graph_pagerank_trade",
        "graph_bfs_shortest_path",
        "graph_triangle_count",
        "graph_link_prediction",
        "dedup_cluster_components",
        "pipeline_curate_neardup",
    }
    missing = expected - truncd
    assert not missing, f"checkpoint queries without trunc marker: {sorted(missing)}"
    with open(path) as f:
        header = "".join(line for line in f if line.startswith("#"))
    for name in sorted(truncd):
        assert name in header, (
            f"trunc row {name} lacks a full-lineage annotation in the header"
        )
    assert "--no-trunc" in header, "header must cite the full-lineage audit mode"


def test_coverage_plan_facts_in_sync():
    """COVERAGE.md's generated plan-facts section must match a fresh
    render from PLAN_AUDIT.txt + the registry — forcing
    `python -m kafka_spark_streaming_eval_spark.plans.coverage_gen` to be
    re-run whenever plans or the registry change, so the committed doc is
    generated truth, not stale prose."""
    import os

    from kafka_spark_streaming_eval_spark.plans.coverage_gen import BEGIN, END, render

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "COVERAGE.md")
    with open(path) as f:
        text = f.read()
    assert BEGIN in text and END in text, "generated section missing"
    current = text.split(BEGIN, 1)[1].split(END, 1)[0].strip("\n")
    assert current == render(), (
        "COVERAGE.md plan facts are stale — rerun plans.coverage_gen"
    )


def test_session_shuffle_sizing_is_scale_adaptive(spark):
    """SCALE.md round-7: AQE can only coalesce DOWN from the initial
    partition count, so both our own sessions (get_spark) and prepped
    foreign sessions (session.prep) must seed initialPartitionNum at 8x
    parallelism — a static 32 starved the contamination-matrix shuffle at
    100x (166.9 s -> 95.5 s measured)."""
    from kafka_spark_streaming_eval_spark.session import prep

    key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    prep(spark)
    got = int(spark.conf.get(key))
    parallelism = spark.sparkContext.defaultParallelism
    assert got == max(8 * parallelism, 64)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_content_hash_cache_bounded_across_reloads():
    """ADVICE r9/r10: the content-hash cache must not grow without bound
    (nor pin historical __code__ objects) when a module is reloaded — one
    entry per (module, qualname, oracle), replaced in place, old code
    objects collectable."""
    import gc
    import weakref

    from kafka_spark_streaming_eval_spark.plans import registry

    ns: dict = {}
    src_a = "def q(spark, sf_dir):\n    return spark.range(1)\n"
    src_b = "def q(spark, sf_dir):\n    return spark.range(2)\n"

    exec(compile(src_a, "<reload-sim>", "exec"), ns)
    fn_a = ns["q"]
    spec_a = registry.QuerySpec("q", fn_a, "SELECT 1", "t")
    before = len(registry._HASH_CACHE)
    h_a = registry.content_hash(spec_a)
    assert registry.content_hash(spec_a) == h_a  # cache hit path
    grew = len(registry._HASH_CACHE) - before
    assert grew <= 1

    # "reload": same module/qualname/oracle, new code object — the entry is
    # REPLACED, not appended, and the digest reflects the new body
    exec(compile(src_b, "<reload-sim>", "exec"), ns)
    fn_b = ns["q"]
    spec_b = registry.QuerySpec("q", fn_b, "SELECT 1", "t")
    h_b = registry.content_hash(spec_b)
    assert h_b != h_a
    assert len(registry._HASH_CACHE) - before == grew  # no growth on reload

    # the superseded code object is NOT pinned by the cache
    code_ref = weakref.ref(fn_a.__code__)
    del fn_a, spec_a, ns
    gc.collect()
    assert code_ref() is None, "cache pinned a superseded __code__ object"


def test_iter_checkpoint_default_delegates_to_localcheckpoint(spark, monkeypatch):
    """Default mode must stay byte-identical to the pre-r11 behavior (and
    keep the plan-audit localCheckpoint spy working): no env var -> the
    helper calls DataFrame.localCheckpoint(eager=True)."""
    from kafka_spark_streaming_eval_spark.session import iter_checkpoint

    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    df = spark.range(3)
    calls = []
    orig = type(df).localCheckpoint

    def spy(self, eager=True):
        calls.append(eager)
        return orig(self, eager=eager)

    monkeypatch.setattr(type(df), "localCheckpoint", spy)
    out = iter_checkpoint(df)
    assert calls == [True]
    assert out.count() == 3


def test_iter_checkpoint_reliable_mode_writes_to_dir(spark, monkeypatch, tmp_path):
    """SPARK_GRAFT_CHECKPOINT_DIR switches iterative operators to reliable
    checkpoint(): the context checkpoint dir is set once and RDD checkpoint
    files land under it (the blocks that survive executor loss)."""
    import os

    from kafka_spark_streaming_eval_spark.session import iter_checkpoint

    ck = str(tmp_path / "ck")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", ck)
    out = iter_checkpoint(spark.range(4))
    assert out.count() == 4
    assert spark.sparkContext.getCheckpointDir() is not None
    assert any(os.scandir(ck)), "no reliable checkpoint files written"
