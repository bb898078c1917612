"""Reader of the committed per-round reports, ``<PREFIX>_r<N>.json`` at the
repo root: the driver's CORRECTNESS reports feed the verification rotation
(``registry.all_queries``), its BENCH reports the tier-2 timing rotation and
the sidecar's ``vs_last`` deltas (``bench``).
"""

from __future__ import annotations

import glob
import json
import os
import re

# plans/history.py -> plans -> package -> repo root (three dirnames, not
# four: four lands on the repo's PARENT and the glob silently finds nothing)
REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def round_reports(prefix: str, *roots: str) -> list[tuple[int, object]]:
    """``(round, parsed JSON)`` for every ``<prefix>_r<N>.json`` under
    ``roots`` (default: the repo root), oldest round first.  Variants such as
    ``BENCH_r14_c8.json`` do not match; an unreadable report still counts
    its round, with ``None`` as its content."""
    pattern = re.compile(re.escape(prefix) + r"_r(\d+)\.json$")
    out: list[tuple[int, object]] = []
    for root in roots or (REPO_ROOT,):
        for path in glob.glob(os.path.join(root, f"{prefix}_r*.json")):
            m = pattern.search(path)
            if not m:
                continue
            try:
                with open(path) as f:
                    report = json.load(f)
            except (OSError, ValueError):
                report = None
            out.append((int(m.group(1)), report))
    out.sort(key=lambda r: r[0])
    return out


# a ("name": seconds) pair inside the raw stdout tail of a BENCH report
_TAIL_PAIR = re.compile(r'"([a-z0-9_]+)":\s*(-?[0-9]+\.?[0-9]*)')


def bench_timings(report: object) -> list[tuple[str, object]]:
    """``(query, seconds)`` pairs of one BENCH report, headline then tier-2,
    from any of its three shapes: the driver's wrapper (payload under
    ``"parsed"``), a bare bench payload (also the ``BENCH_DETAILS.json``
    sidecar), or, when ``"parsed"`` is null because the stdout line overran
    the driver's 2000-char window, pairs recovered from ``"tail"`` by regex.
    Payload values pass through as stored; tail values are floats, and the
    non-query scalars the regex also picks up ("value", "sf", ...) never
    collide with a registered query name."""
    if not isinstance(report, dict):
        return []
    if isinstance(report.get("parsed"), dict):
        report = report["parsed"]
    elif "queries" not in report and "tier2_queries" not in report:
        tail = report.get("tail")
        if not isinstance(tail, str):
            return []
        return [(name, float(sec)) for name, sec in _TAIL_PAIR.findall(tail)]
    return [
        (name, sec)
        for key in ("queries", "tier2_queries")
        for name, sec in (report.get(key) or {}).items()
    ]
