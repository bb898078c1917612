"""bench.py contract tests.

The driver executes ``python bench.py`` per round and parses its single JSON
line; these tests pin the parts of that contract that don't need a timed run:
headline names must resolve in the registry, the tier-2 coverage set is every
non-headline query in registration order, and the stdout line stays inside
its budget.
"""

from __future__ import annotations

import bench
from kafka_spark_streaming_eval_spark.plans.registry import all_queries


def test_import_bench_has_no_env_side_effect():
    """ADVICE r6: importing bench must NOT mutate PYSPARK_SUBMIT_ARGS — this
    module imports bench above, so the heap pin leaking back to import time
    would poison every later SparkSession in this pytest process."""
    import os

    assert not bench._HEAP_PINNED
    assert "--driver-memory 16g" not in os.environ.get("PYSPARK_SUBMIT_ARGS", "")


def test_headline_names_all_registered():
    registered = set(all_queries())
    missing = [n for n in bench.HEADLINE if n not in registered]
    assert not missing, f"HEADLINE names absent from registry: {missing}"


def test_headline_names_unique():
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))


def test_tier2_rotation_excludes_headline_on_real_registry():
    """The tier-2 set is fixed: every non-headline query, once, in
    registration order."""
    names = list(all_queries())
    headline = set(bench.HEADLINE)
    picked = bench.tier2_names(all_queries())
    assert not set(picked) & headline
    assert set(picked) | headline == set(names)
    assert len(picked) == len(set(picked))
    assert picked == sorted(picked, key=names.index)


def _fake_full_payload(n_queries: int) -> dict:
    return {
        "metric": "headline_queries_total",
        "value": 41.1,
        "unit": "sec",
        "queries": {f"query_{i:03d}_with_a_realistic_name": round(0.01 * i, 4)
                    for i in range(n_queries)},
        "tier2_queries": {f"tier2_{i:03d}": 0.5 for i in range(92)},
        "tier2_total": 46.0,
        "tier2_n": 92,
        "tier2_policy": "every non-headline query once, registration order",
        "sf": 0.1,
        "throughput_eps": 1086572.6,
        "throughput_events": 1_000_000,
        "stream_input_eps": 50000,
        "stream_isolation": "subprocess",
        "stream_sustained_eps": 53846.2,
        "stream_p95_latency_ms": 1747.6,
        "recovery_s": 0.68,
        "stream_gate": {
            "engaged": True,
            "engage_offset_s": 7.9,
            "gated_batches": 3,
            "kept_batches": 18,
            "timeline": [[6.2, 171850], [6.9, 148200], [7.4, 96400], [7.9, 50001]]
            + [[7.9 + 0.5 * i, 50000] for i in range(18)],
        },
        "baseline_throughput_eps": 6914.7,
        "baseline_p95_latency_ms": 4704.0,
        "baseline_recovery_s": 47.0,
    }


def test_budget_stdout_line_fits_driver_tail_window():
    # The driver keeps only the last ~2000 chars of stdout (BENCH_r05's
    # "parsed": null proved it); the emitted line must stay under budget
    # even with the full 236-query registry timed.
    import json

    full = _fake_full_payload(236)
    slim = bench.budget_stdout_payload(full)
    line = bench._enc(slim)  # the encoder main() actually prints with
    assert len(line) <= bench.STDOUT_BUDGET
    assert json.loads(line)["metric"] == "headline_queries_total"
    # RESERVED scalars survive any registry shape (VERDICT r14 item 3: the
    # per-query dict now takes stdout priority over the other scalars, so
    # only the BASELINE-gate triple + throughput + weather are guaranteed)
    for key in ("value", "sf", "throughput_eps", "stream_sustained_eps",
                "stream_p95_latency_ms", "recovery_s"):
        assert slim[key] == full[key]
    # slowest queries are the ones kept
    kept = slim["queries"]
    assert kept, "budget must fit at least some queries"
    slowest = max(full["queries"], key=full["queries"].get)
    assert slowest in kept
    assert slim["queries_n"] == 236
    assert slim["queries_omitted"] == 236 - len(kept)
    assert slim["queries_full"] == bench.DETAILS_FILE
    # the bulky maps never leak into the stdout line
    assert "tier2_queries" not in slim
    # nested gate provenance stays in the sidecar (VERDICT r8 item 7)
    assert "stream_gate" not in slim


def test_budget_keeps_everything_when_small():
    full = _fake_full_payload(5)
    slim = bench.budget_stdout_payload(full)
    assert slim["queries_omitted"] == 0
    assert slim["queries"] == {
        n: round(s, 2) for n, s in full["queries"].items()
    }
    # with room to spare, every optional scalar also rides the line
    for key in ("tier2_total", "stream_isolation", "baseline_recovery_s"):
        assert slim[key] == full[key]


def test_budget_sidecar_pointer_never_overruns_limit():
    """The ``queries_full`` pointer counts against the limit: with room for
    the contract fields plus 5 chars, a query that does not fit is omitted
    and the line still ends at or under ``limit``."""
    full = _fake_full_payload(1)
    keys = ("metric", "value", "unit", "sf", *bench.STDOUT_RESERVED_SCALARS)
    base = {k: full[k] for k in keys if k in full}
    base.update(queries={}, queries_n=1, queries_omitted=1)
    limit = len(bench._enc(base)) + 5
    slim = bench.budget_stdout_payload(full, limit)
    assert len(bench._enc(slim)) <= limit
    assert slim["queries"] == {} and slim["queries_omitted"] == 1


def test_budget_full_headline_registry_never_truncates():
    """VERDICT r14 items 2+3 (the phantom-drop fix): with the REAL headline
    list and realistic timings/scalars, every per-query timing fits the
    stdout line — PERF must never see a timed query as dropped again."""
    full = _fake_full_payload(0)
    # the r14 shape: a handful of seconds-scale queries, the rest sub-second
    # (4-char 2-dp values); a registry where EVERY query runs >=10 s would
    # not fit, but a 37 s / 57-query headline is nowhere near that
    full["queries"] = {
        name: (3.9056 if i % 19 == 0 else 0.3865)
        for i, name in enumerate(bench.HEADLINE)
    }
    slim = bench.budget_stdout_payload(full)
    assert slim["queries_omitted"] == 0
    assert set(slim["queries"]) == set(bench.HEADLINE)
    assert len(bench._enc(slim)) <= bench.STDOUT_BUDGET
    # and the BASELINE-gate scalars still ride along
    for key in ("stream_sustained_eps", "stream_p95_latency_ms",
                "recovery_s", "throughput_eps"):
        assert slim[key] == full[key]


def test_budget_line_under_limit_for_any_registry_shape():
    # Property: whatever the registry grows into — name lengths, query
    # counts, timing magnitudes — the stdout line never crosses the budget
    # and the kept set is exactly the slowest prefix that fits.
    import json

    from hypothesis import given, settings
    from hypothesis import strategies as st

    names = st.text(
        alphabet="abcdefghijklmnopqrstuvwxyz_0123456789", min_size=1, max_size=60
    )
    timing = st.floats(
        min_value=0.0, max_value=9999.0, allow_nan=False, allow_infinity=False
    ).map(lambda x: round(x, 4))

    @settings(max_examples=60, deadline=None)
    @given(st.dictionaries(names, timing, max_size=400))
    def check(queries):
        full = _fake_full_payload(0)
        full["queries"] = queries
        slim = bench.budget_stdout_payload(full)
        line = bench._enc(slim)
        assert len(line) <= bench.STDOUT_BUDGET
        assert slim["queries_n"] == len(queries)
        assert slim["queries_omitted"] == len(queries) - len(slim["queries"])
        # kept set is a prefix of the slowest-first order
        order = sorted(queries, key=lambda n: (-queries[n], n))
        assert set(slim["queries"]) == set(order[: len(slim["queries"])])

    check()


def test_stream_payload_ok_accepts_real_measurements():
    assert bench.stream_payload_ok(
        {"stream_sustained_eps": 54545.5, "stream_p95_latency_ms": 1390.2, "recovery_s": 0.67}
    )


def test_stream_payload_ok_rejects_sentinels_and_junk():
    """r7 closing run 3 regression: a starved stream returns sentinel values
    (0.0 eps / -1.0 ms) that parse as valid JSON; recording them as headline
    numbers is the bug this guard closes."""
    sentinel = {
        "stream_sustained_eps": 0.0,
        "stream_p95_latency_ms": -1.0,
        "recovery_s": 13.8,
    }
    assert not bench.stream_payload_ok(sentinel)
    assert not bench.stream_payload_ok({})
    assert not bench.stream_payload_ok(
        {"stream_sustained_eps": "nope", "stream_p95_latency_ms": 1.0, "recovery_s": 1.0}
    )
    assert not bench.stream_payload_ok(
        {"stream_sustained_eps": 100.0, "stream_p95_latency_ms": 1.0, "recovery_s": -1.0}
    )


def test_stream_payload_ok_rejects_catchup_throughput():
    """r7 regression #2: a slow stream start lets the rate source build a
    backlog, and the window then measures backlog replay at max batch
    throughput — 150k 'sustained' eps at 50k input.  With the input rate
    given, sustained must be <= 1.5x input."""
    catchup = {
        "stream_sustained_eps": 150000.0,
        "stream_p95_latency_ms": 3697.0,
        "recovery_s": 10.08,
    }
    assert not bench.stream_payload_ok(catchup, rate_eps=50_000)
    assert bench.stream_payload_ok(catchup)  # no rate -> no upper bound
    steady = {
        "stream_sustained_eps": 54545.5,
        "stream_p95_latency_ms": 1390.2,
        "recovery_s": 0.67,
    }
    assert bench.stream_payload_ok(steady, rate_eps=50_000)


def test_stream_payload_ok_rejects_short_windows():
    """r8 run-1 artifact: a 3-batch window's rate estimate is biased by
    N/(N-1) (recorded exactly 75,000 eps at 50k input — the gate boundary).
    Payloads carrying stream_batches < 5 are rejected; payloads without the
    field (older shape) are judged on the other criteria alone."""
    base = {
        "stream_sustained_eps": 52000.0,
        "stream_p95_latency_ms": 1300.0,
        "recovery_s": 0.7,
    }
    assert bench.stream_payload_ok(base, rate_eps=50_000)
    assert bench.stream_payload_ok({**base, "stream_batches": 14}, rate_eps=50_000)
    assert not bench.stream_payload_ok({**base, "stream_batches": 3}, rate_eps=50_000)
    assert not bench.stream_payload_ok({**base, "stream_batches": 0})


def test_stream_payload_ok_rejects_none_values():
    """The in-process fallback now records nulls when its own triple fails
    the plausibility gate (ADVICE r7) — the gate itself must treat a
    null-bearing payload as invalid rather than crash."""
    assert not bench.stream_payload_ok(
        {"stream_sustained_eps": None, "stream_p95_latency_ms": None, "recovery_s": None}
    )


def test_budget_stdout_payload_serializes_null_stream_fields():
    """An invalid fallback records stream nulls + isolation
    'in-process-invalid'; the stdout budgeting must pass them through as
    JSON nulls so the driver sees an honest gap, not a crash or a sentinel."""
    full = {
        "metric": "headline_queries_total",
        "value": 1.0,
        "unit": "sec",
        "queries": {"q": 1.0},
        "tier2_queries": {},
        "sf": 0.1,
        "stream_isolation": "in-process-invalid",
        "stream_sustained_eps": None,
        "stream_p95_latency_ms": None,
        "recovery_s": None,
    }
    import json

    slim = bench.budget_stdout_payload(full)
    line = json.dumps(slim)
    assert json.loads(line)["stream_sustained_eps"] is None
    assert json.loads(line)["stream_isolation"] == "in-process-invalid"


def test_vs_last_and_gate_excluded_from_stdout_line():
    """The nested stream-gate provenance rides the sidecar only."""
    full = _fake_full_payload(20)
    slim = bench.budget_stdout_payload(full)
    assert "stream_gate" not in slim


# ---------------------------------------------------------------------------
# Weather self-description (VERDICT r11 item 1): steal-tick sampling


def test_read_steal_ticks_shape():
    """On this Linux sandbox /proc/stat exists: the reader must return a
    (steal, total) pair of non-negative ints with steal <= total; on a host
    without it the contract is None, never an exception."""
    got = bench.read_steal_ticks()
    if got is not None:
        steal, total = got
        assert isinstance(steal, int) and isinstance(total, int)
        assert 0 <= steal <= total


def test_read_steal_ticks_denominator_excludes_guest_fields(tmp_path):
    """Kernels reporting guest/guest_nice (fields 9-10) already fold those
    ticks into user/nice, so the total-tick denominator must sum only the
    first 8 fields (user..steal) — a full-line sum double-counts guest time
    and understates steal_pct on guest-running hosts (ADVICE r12)."""
    stat = tmp_path / "stat"
    #            user nice sys idle iowait irq softirq steal guest guest_nice
    stat.write_text("cpu  100 10 50 800 5 1 4 30 100 10\nintr 0\n")
    got = bench.read_steal_ticks(str(stat))
    assert got == (30, 100 + 10 + 50 + 800 + 5 + 1 + 4 + 30)


def test_steal_meter_monotone_and_bounded():
    """A finished meter over a short busy span reports a bounded percentage
    and non-negative tick delta (ticks are cumulative counters)."""
    m = bench.StealMeter()
    # burn a little CPU so total ticks advance
    sum(i * i for i in range(200_000))
    out = m.finish()
    assert out["wall_s"] >= 0
    if out["available"]:
        assert out["steal_ticks"] >= 0
        assert out["steal_pct"] is None or 0.0 <= out["steal_pct"] <= 100.0
    else:
        assert bench.read_steal_ticks() is None


def test_throughput_gate_keeps_max_eps_attempt(monkeypatch):
    """Under a steal burst the gate must retry and keep the attempt with
    the HIGHEST eps (steal can only slow the machine, so max is a valid
    capacity lower bound), recording every attempt in the provenance."""
    fakes = iter(
        [
            (900_000.0, {"available": True, "wall_s": 1.0, "steal_ticks": 50, "steal_pct": 2.5}),
            (1_200_000.0, {"available": True, "wall_s": 1.0, "steal_ticks": 0, "steal_pct": 0.0}),
        ]
    )
    monkeypatch.setattr(bench, "throughput_eps", lambda spark: next(fakes))
    kept, prov = bench.throughput_phase(spark=None)
    eps = kept["throughput_eps"]
    assert eps == 1_200_000.0
    assert prov["kept"] == {"throughput_eps": 2}
    assert prov["gate_cleared"] is True
    assert len(prov["attempts"]) == 2
    assert prov["attempts"][0]["steal"]["steal_pct"] == 2.5


def test_throughput_gate_no_retry_when_quiet(monkeypatch):
    calls = []

    def fake(spark):
        calls.append(1)
        return 1_000_000.0, {"available": True, "wall_s": 1.0, "steal_ticks": 0, "steal_pct": 0.01}

    monkeypatch.setattr(bench, "throughput_eps", fake)
    _, prov = bench.throughput_phase(spark=None)
    assert len(calls) == 1
    assert prov["gate_cleared"] is True and prov["kept"] == {"throughput_eps": 1}


def test_throughput_gate_handles_no_proc_stat(monkeypatch):
    """Weather-unknown hosts: one attempt, kept, gate_cleared False — never
    an infinite retry loop and never a fabricated zero-steal claim."""
    calls = []

    def fake(spark):
        calls.append(1)
        return 500_000.0, {"available": False, "wall_s": 1.0}

    monkeypatch.setattr(bench, "throughput_eps", fake)
    kept, prov = bench.throughput_phase(spark=None)
    eps = kept["throughput_eps"]
    assert len(calls) == 1
    assert eps == 500_000.0
    assert prov["gate_cleared"] is False


def test_throughput_gate_exhausts_retries_under_sustained_steal(monkeypatch):
    """A steal window longer than the retry budget: all attempts recorded,
    the max-eps attempt kept (commit b2e4ccc: capacity is the quantity, and
    steal can only depress it, so max is the least-poisoned sample),
    gate_cleared False so the sidecar shows the number is
    weather-contaminated."""
    # Max-eps attempt (2) is deliberately NOT the least-steal attempt (1):
    # the assertion below fails under a least-steal selector, so this
    # fixture pins the policy rather than passing by coincidence
    # (ADVICE r12).
    fakes = iter(
        [
            (800_000.0, {"available": True, "wall_s": 1.0, "steal_ticks": 40, "steal_pct": 1.8}),
            (850_000.0, {"available": True, "wall_s": 1.0, "steal_ticks": 90, "steal_pct": 4.0}),
            (820_000.0, {"available": True, "wall_s": 1.0, "steal_ticks": 60, "steal_pct": 2.9}),
        ]
    )
    monkeypatch.setattr(bench, "throughput_eps", lambda spark: next(fakes))
    kept, prov = bench.throughput_phase(spark=None)
    eps = kept["throughput_eps"]
    assert len(prov["attempts"]) == 1 + bench.STEAL_RETRIES
    assert prov["kept"] == {"throughput_eps": 2} and eps == 850_000.0
    assert prov["gate_cleared"] is False


def test_throughput_gate_burst_placement_shape(monkeypatch):
    """The r12 stormy closing-run shape: the LOWEST-steal span carried the
    burst inside its timed pass (68k eps at 4.0%) while a higher-avg-steal
    span's bursts missed the pass (467k at 11.3%).  Max-eps must win —
    least-steal would keep the 68k artifact — and gate_cleared must be
    False because the kept span was not quiet."""
    fakes = iter(
        [
            (467_006.1, {"available": True, "wall_s": 3.0, "steal_ticks": 900, "steal_pct": 11.276}),
            (68_178.9, {"available": True, "wall_s": 20.0, "steal_ticks": 300, "steal_pct": 3.959}),
            (211_446.9, {"available": True, "wall_s": 7.0, "steal_ticks": 600, "steal_pct": 8.108}),
        ]
    )
    monkeypatch.setattr(bench, "throughput_eps", lambda spark: next(fakes))
    kept, prov = bench.throughput_phase(spark=None)
    eps = kept["throughput_eps"]
    assert eps == 467_006.1 and prov["kept"] == {"throughput_eps": 1}
    assert prov["gate_cleared"] is False
    assert len(prov["attempts"]) == 3


# ---------------------------------------------------------------------------
# Wall-time phase gate (VERDICT r12 item 1): headline/tier2 retry under
# steal with MIN-total keep — the inverse selector of the capacity gate.


def _meter_seq(monkeypatch, steals):
    """Patch StealMeter so successive instances report the given dicts."""
    seq = iter(steals)

    class FakeMeter:
        def __init__(self):
            self._out = next(seq)

        def finish(self):
            return self._out

    monkeypatch.setattr(bench, "StealMeter", FakeMeter)


def test_walltime_gate_quiet_first_attempt_no_retry(monkeypatch):
    """A quiet first span is kept as-is: one attempt, gate_cleared True."""
    _meter_seq(monkeypatch, [
        {"available": True, "wall_s": 60.0, "steal_ticks": 2, "steal_pct": 0.01},
    ])
    calls = []

    def phase(i):
        calls.append(i)
        return {"q1": 1.0, "q2": 2.0}

    kept, prov = bench.walltime_phase(phase, retries=2)
    timings = kept["queries"]
    assert calls == [0]
    assert timings == {"q1": 1.0, "q2": 2.0}
    assert prov["kept"] == {"total_s": 1} and prov["gate_cleared"] is True
    assert prov["attempts"][0]["total_s"] == 3.0


def test_walltime_gate_retries_and_keeps_min_total(monkeypatch):
    """Under sustained steal all retries run and the FASTEST total is kept
    (steal can only slow a pass) — the min-total attempt here is neither
    the first nor the least-steal one, so this pins the selector."""
    _meter_seq(monkeypatch, [
        {"available": True, "wall_s": 80.0, "steal_ticks": 90, "steal_pct": 1.7},
        {"available": True, "wall_s": 60.0, "steal_ticks": 99, "steal_pct": 2.4},
        {"available": True, "wall_s": 70.0, "steal_ticks": 40, "steal_pct": 0.9},
    ])
    walls = iter([{"q": 80.0}, {"q": 60.0}, {"q": 70.0}])
    kept, prov = bench.walltime_phase(lambda i: next(walls))
    timings = kept["queries"]
    assert len(prov["attempts"]) == 1 + bench.STEAL_RETRIES
    assert prov["kept"] == {"total_s": 2} and timings == {"q": 60.0}
    assert prov["gate_cleared"] is False  # kept span itself was stormy


def test_walltime_gate_stops_at_first_quiet_retry(monkeypatch):
    """A stormy first attempt followed by a quiet retry stops there and the
    quiet (faster) attempt is kept with gate_cleared True."""
    _meter_seq(monkeypatch, [
        {"available": True, "wall_s": 80.0, "steal_ticks": 90, "steal_pct": 3.1},
        {"available": True, "wall_s": 56.0, "steal_ticks": 1, "steal_pct": 0.02},
    ])
    walls = iter([{"q": 80.0}, {"q": 56.0}])
    kept, prov = bench.walltime_phase(lambda i: next(walls), retries=2)
    timings = kept["queries"]
    assert len(prov["attempts"]) == 2
    assert prov["kept"] == {"total_s": 2} and timings == {"q": 56.0}
    assert prov["gate_cleared"] is True


def test_walltime_gate_weather_unknown_single_attempt(monkeypatch):
    """No /proc/stat: one attempt, kept, gate_cleared False — never a retry
    loop and never a fabricated quiet claim."""
    _meter_seq(monkeypatch, [{"available": False, "wall_s": 60.0}])
    calls = []

    def phase(i):
        calls.append(i)
        return {"q": 60.0}

    _, prov = bench.walltime_phase(phase, retries=2)
    assert calls == [0]
    assert prov["gate_cleared"] is False and prov["kept"] == {"total_s": 1}


def test_walltime_gate_scalars_survive_stdout_budget():
    """The headline gate scalars ride the stdout line; the nested attempts
    provenance is sidecar-only (inside the stripped ``steal`` block)."""
    full = _fake_full_payload(20)
    full["headline_steal_pct"] = 0.02
    full["headline_steal_gate_ok"] = True
    full["headline_attempts"] = 1
    full["tier2_steal_gate_ok"] = True
    full["steal"] = {"headline": {"attempts": [{"total_s": 41.1}]}}
    slim = bench.budget_stdout_payload(full)
    assert "steal" not in slim
    assert slim["headline_steal_gate_ok"] is True
    assert slim["headline_attempts"] == 1
    assert slim["tier2_steal_gate_ok"] is True


def test_steal_block_excluded_from_stdout_line():
    """The nested per-phase steal block is sidecar-only; the budgeted stdout
    line carries the scalar steal_pct_run / throughput_steal_pct fields."""
    full = {
        "metric": "headline_queries_total",
        "value": 50.0,
        "queries": {"q": 1.0},
        "steal_pct_run": 0.02,
        "throughput_steal_pct": 0.0,
        "throughput_steal_gate_ok": True,
        "steal": {"run": {"available": True}, "throughput": {"attempts": []}},
    }
    slim = bench.budget_stdout_payload(full)
    assert "steal" not in slim
    assert slim["steal_pct_run"] == 0.02
    assert slim["throughput_steal_gate_ok"] is True


# ---------------------------------------------------------------------------
# Stream phase gate (VERDICT r13 item 2): the --stream-only subprocess gets
# the same steal-retry discipline as headline/tier2/throughput, with
# per-metric selection (max-sustained / min-p95 / min-recovery).


def _stream_payload(sus, p95, rec, steal_pct, batches=16):
    return {
        "stream_sustained_eps": sus,
        "stream_p95_latency_ms": p95,
        "recovery_s": rec,
        "stream_batches": batches,
        "stream_gate": {"engaged": True, "kept_batches": batches},
        "stream_steal": {
            "available": True,
            "wall_s": 60.0,
            "steal_ticks": 10,
            "steal_pct": steal_pct,
        },
    }


def test_stream_gate_quiet_first_attempt_no_retry(monkeypatch):
    calls = []

    def fake(timeout=300.0):
        calls.append(1)
        return _stream_payload(46875.0, 1292.2, 5.73, 0.02)

    monkeypatch.setattr(bench, "_run_stream_subprocess", fake)
    metrics, prov = bench.stream_phase()
    assert len(calls) == 1
    assert metrics["stream_sustained_eps"] == 46875.0
    assert metrics["stream_gate"]["engaged"] is True
    assert prov["gate_cleared"] is True
    assert prov["kept"] == {
        "stream_sustained_eps": 1, "stream_p95_latency_ms": 1, "recovery_s": 1,
    }


def test_stream_gate_retries_under_steal_and_selects_per_metric(monkeypatch):
    """A stormy first attempt retries; each metric is kept from the attempt
    where steal (one-sided noise) hurt it least — the three kept indices
    deliberately differ so this pins per-metric selection, not best-attempt
    selection."""
    payloads = iter([
        _stream_payload(48000.0, 1500.0, 6.0, 1.39),   # stormy: best sustained
        _stream_payload(44000.0, 1200.0, 7.0, 0.90),   # stormy: best p95
        _stream_payload(46000.0, 1400.0, 4.5, 0.03),   # quiet: best recovery
    ])
    monkeypatch.setattr(
        bench, "_run_stream_subprocess", lambda timeout=300.0: next(payloads)
    )
    metrics, prov = bench.stream_phase()
    assert len(prov["attempts"]) == 1 + bench.STEAL_RETRIES
    assert metrics["stream_sustained_eps"] == 48000.0
    assert metrics["stream_p95_latency_ms"] == 1200.0
    assert metrics["recovery_s"] == 4.5
    assert prov["kept"] == {
        "stream_sustained_eps": 1, "stream_p95_latency_ms": 2, "recovery_s": 3,
    }
    # sustained and p95 came from stormy spans -> the composite is not quiet
    assert prov["gate_cleared"] is False
    # batches/gate ride with the max-sustained attempt
    assert metrics["stream_batches"] == 16


def test_stream_gate_all_quiet_contributors_clear_gate(monkeypatch):
    """gate_cleared is True when every contributing attempt was quiet, even
    if a rejected stormy attempt sits in the provenance."""
    payloads = iter([
        _stream_payload(20000.0, 9000.0, 30.0, 2.5),   # stormy, all-worst
        _stream_payload(46875.0, 1292.2, 5.73, 0.02),  # quiet, all-best
    ])
    monkeypatch.setattr(
        bench, "_run_stream_subprocess", lambda timeout=300.0: next(payloads)
    )
    metrics, prov = bench.stream_phase()
    assert len(prov["attempts"]) == 2
    assert prov["kept"] == {
        "stream_sustained_eps": 2, "stream_p95_latency_ms": 2, "recovery_s": 2,
    }
    assert prov["gate_cleared"] is True
    assert metrics["stream_sustained_eps"] == 46875.0


def test_stream_gate_invalid_payload_consumes_attempt_then_recovers(monkeypatch):
    """A sentinel/implausible payload (raised by _run_stream_subprocess)
    consumes an attempt, is recorded valid=False with the error, and the
    next attempt proceeds — subsuming the old two-try validity loop."""
    seq = iter([ValueError("implausible streaming payload"), None])

    def fake(timeout=300.0):
        step = next(seq)
        if step is not None:
            raise step
        return _stream_payload(46000.0, 1300.0, 5.5, 0.01)

    monkeypatch.setattr(bench, "_run_stream_subprocess", fake)
    metrics, prov = bench.stream_phase()
    assert metrics["stream_sustained_eps"] == 46000.0
    assert prov["attempts"][0]["valid"] is False
    assert "implausible" in prov["attempts"][0]["err"]
    assert prov["gate_cleared"] is True


def test_stream_gate_all_attempts_invalid_returns_none(monkeypatch):
    """No valid subprocess payload -> (None, provenance) so main() falls
    back to the in-process path; gate_cleared None (nothing was kept)."""
    def fake(timeout=300.0):
        raise RuntimeError("boom")

    monkeypatch.setattr(bench, "_run_stream_subprocess", fake)
    metrics, prov = bench.stream_phase()
    assert metrics is None
    assert prov["kept"] is None and prov["gate_cleared"] is None
    assert len(prov["attempts"]) == 1 + bench.STEAL_RETRIES
    assert all(a["valid"] is False for a in prov["attempts"])


def test_stream_gate_weather_unknown_keeps_single_attempt(monkeypatch):
    """stream_steal unavailable (no /proc/stat in the subprocess): keep the
    attempt, gate_cleared False, never a retry loop (ADVICE r13 shape)."""
    calls = []

    def fake(timeout=300.0):
        calls.append(1)
        p = _stream_payload(46000.0, 1300.0, 5.5, 0.01)
        p["stream_steal"] = {"available": False, "wall_s": 60.0}
        return p

    monkeypatch.setattr(bench, "_run_stream_subprocess", fake)
    metrics, prov = bench.stream_phase()
    assert len(calls) == 1
    assert metrics["stream_sustained_eps"] == 46000.0
    assert prov["gate_cleared"] is False


def test_stream_gate_scalars_survive_stdout_budget():
    full = _fake_full_payload(20)
    full["stream_steal_gate_ok"] = True
    full["stream_attempts"] = 2
    full["steal"] = {"stream": {"attempts": [{"valid": True}]}}
    slim = bench.budget_stdout_payload(full)
    assert "steal" not in slim
    assert slim["stream_steal_gate_ok"] is True
    assert slim["stream_attempts"] == 2


# ---------------------------------------------------------------------------
# Anomaly retry (VERDICT r13 item 3): a QUIET attempt >2x slower
# than a noisy one is an anomaly steal cannot explain; one extra attempt is
# allowed so gate_cleared can be earned rather than waived.


def test_throughput_gate_anomaly_third_attempt_earns_gate(monkeypatch):
    """The r13 shape: noisy 1.47M then quiet 210k (7x slower).  The gate
    must notice the quiet attempt is implausibly slow, run ONE extra
    attempt, and — when that attempt is quiet and fast — earn
    gate_cleared True."""
    fakes = iter([
        (1_471_535.0, {"available": True, "wall_s": 2.0, "steal_ticks": 9, "steal_pct": 0.538}),
        (210_000.0, {"available": True, "wall_s": 10.0, "steal_ticks": 1, "steal_pct": 0.048}),
        (1_450_000.0, {"available": True, "wall_s": 2.0, "steal_ticks": 0, "steal_pct": 0.01}),
    ])
    monkeypatch.setattr(bench, "throughput_eps", lambda spark: next(fakes))
    kept, prov = bench.throughput_phase(spark=None)
    eps = kept["throughput_eps"]
    assert len(prov["attempts"]) == 3
    assert eps == 1_471_535.0  # max still wins overall...
    assert prov["kept"] == {"throughput_eps": 1}
    assert prov["gate_cleared"] is False  # ...and the kept span was noisy


def test_throughput_gate_anomaly_retry_can_clear_gate(monkeypatch):
    """When the anomaly retry comes back quiet AND fastest, it is kept and
    the gate is cleared — the whole point of the extra attempt."""
    fakes = iter([
        (1_471_535.0, {"available": True, "wall_s": 2.0, "steal_ticks": 9, "steal_pct": 0.538}),
        (210_000.0, {"available": True, "wall_s": 10.0, "steal_ticks": 1, "steal_pct": 0.048}),
        (1_500_000.0, {"available": True, "wall_s": 2.0, "steal_ticks": 0, "steal_pct": 0.01}),
    ])
    monkeypatch.setattr(bench, "throughput_eps", lambda spark: next(fakes))
    kept, prov = bench.throughput_phase(spark=None)
    eps = kept["throughput_eps"]
    assert eps == 1_500_000.0 and prov["kept"] == {"throughput_eps": 3}
    assert prov["gate_cleared"] is True


def test_throughput_gate_no_anomaly_retry_when_quiet_is_plausible(monkeypatch):
    """A quiet attempt within 2x of the best needs no extra attempt."""
    calls = []

    def fake(spark):
        calls.append(1)
        return 1_000_000.0, {"available": True, "wall_s": 2.0, "steal_ticks": 0, "steal_pct": 0.01}

    monkeypatch.setattr(bench, "throughput_eps", fake)
    bench.throughput_phase(spark=None)
    assert len(calls) == 1


def test_walltime_gate_anomaly_retry_on_min_total(monkeypatch):
    """The anomaly rule holds for every phase: a quiet pass more than 2x
    slower than a stormy one earns one extra attempt on a min-selected
    wall-time phase too, and a quiet, fastest extra pass clears the gate."""
    _meter_seq(monkeypatch, [
        {"available": True, "wall_s": 40.0, "steal_ticks": 30, "steal_pct": 0.9},
        {"available": True, "wall_s": 100.0, "steal_ticks": 1, "steal_pct": 0.02},
        {"available": True, "wall_s": 38.0, "steal_ticks": 0, "steal_pct": 0.01},
    ])
    walls = iter([{"q": 40.0}, {"q": 100.0}, {"q": 38.0}])
    kept, prov = bench.walltime_phase(lambda i: next(walls))
    assert len(prov["attempts"]) == 3
    assert prov["kept"] == {"total_s": 3} and kept["queries"] == {"q": 38.0}
    assert prov["gate_cleared"] is True


# ---------------------------------------------------------------------------
# steal_pct=None handling (ADVICE r13): a zero total-tick delta over a very
# short span is weather-UNKNOWN, not stormy — keep the attempt instead of
# burning every retry.


def test_throughput_gate_steal_pct_none_keeps_without_retry(monkeypatch):
    calls = []

    def fake(spark):
        calls.append(1)
        return 900_000.0, {"available": True, "wall_s": 0.01, "steal_ticks": 0, "steal_pct": None}

    monkeypatch.setattr(bench, "throughput_eps", fake)
    kept, prov = bench.throughput_phase(spark=None)
    eps = kept["throughput_eps"]
    assert len(calls) == 1
    assert eps == 900_000.0
    assert prov["gate_cleared"] is False


def test_walltime_gate_steal_pct_none_keeps_without_retry(monkeypatch):
    _meter_seq(monkeypatch, [
        {"available": True, "wall_s": 0.01, "steal_ticks": 0, "steal_pct": None},
    ])
    calls = []

    def phase(i):
        calls.append(i)
        return {"q": 1.0}

    _, prov = bench.walltime_phase(phase, retries=2)
    assert calls == [0]
    assert prov["gate_cleared"] is False and prov["kept"] == {"total_s": 1}


# ---------------------------------------------------------------------------
# StealMeter self-description additions (r14): denominator version stamp
# (ADVICE r13 — the first8 denominator reads higher than pre-r13 sidecars)
# and PSI pressure deltas (VERDICT r13 item 3 — the non-steal diagnostic).


def test_stealmeter_stamps_denominator_and_pressure():
    m = bench.StealMeter()
    got = m.finish()
    if not got.get("available"):
        return  # host without /proc/stat: nothing to stamp
    assert got["denominator"] == "first8"
    if bench.read_pressure_totals() is not None:
        assert set(got["pressure_stall_ms"]) == {"cpu_some", "io_some", "io_full"}
        assert all(v >= 0 for v in got["pressure_stall_ms"].values())


def test_read_pressure_totals_shape():
    got = bench.read_pressure_totals()
    if got is not None:
        assert set(got) == {"cpu_some", "io_some", "io_full"}
        assert all(isinstance(v, int) and v >= 0 for v in got.values())
