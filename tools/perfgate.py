#!/usr/bin/env python3
"""Deterministic perf gate (VERDICT r17 next #5; r19: byte gate + capped allowlist).

Wall-clock on a shared host drifts badly (SCALE.md: the same committed
code measured q201 at 24-57s across four same-day runs), so regressions
are gated on PLAN METRICS instead: per-query Spark job counts are a pure
function of the code and the data, and survive host drift. Since r19 the
gate also compares per-query SHUFFLE BYTES — a plan regression that keeps
the job count but loses a pushdown inside one stage (scanning and
shuffling columns/rows it used to prune) inflates shuffle_write while the
job gate stays silent. Bytes are noisier than job counts (task-order and
compression jitter), so the byte gate uses a tolerance band: FAIL only
when current > base * 1.5 + 256 KiB. A lost pushdown at gate scale moves
megabytes; jitter observed across rounds at fixed code stays well inside
the band.

    python3 tools/perfgate.py tools/plan_metrics_baseline.json target/bench_last.json
    python3 tools/perfgate.py --selftest   # gate must catch a synthetic regression

Exit 1 if any query's job count or shuffle bytes grew versus the baseline
beyond what tools/perfgate_allow.json permits. Allowlist entries are
objects {"reason": str, "max_jobs": int, "max_shuffle_write": int}: the
recorded-reason escape hatch is CAPPED at the job count / byte level that
was actually accepted (ADVICE r18: an uncapped allowlist masks future
unrelated regressions on allowlisted queries forever). Growth beyond the
recorded cap fails like any other query. A bare-string entry (a reason
with no cap) is refused with an error naming the query.

The committed baseline (tools/plan_metrics_baseline.json) is refreshed at
each round's end from the final bench record, so the gate always measures
"since the last accepted state", not "since the beginning of time".
"""
import json
import sys
import os

BYTE_RATIO = 1.5
BYTE_FLOOR = 256 * 1024


def load_metrics(path):
    with open(path) as f:
        rec = json.load(f)
    # accept either a full bench record or a bare plan_metrics map
    if "plan_metrics" in rec:
        return rec.get("plan_metrics", {}), rec.get("queries", {})
    return rec, {}


def parse_allow(raw):
    """Allowlist entries by query; raises ValueError on an uncapped entry."""
    allow = {}
    for q, v in raw.items():
        if not isinstance(v, dict):
            raise ValueError(
                f"allowlist entry for {q} is not an object with a reason and "
                f"its max_jobs/max_shuffle_write caps")
        allow[q] = {"reason": v.get("reason", ""),
                    "max_jobs": v.get("max_jobs"),
                    "max_shuffle_write": v.get("max_shuffle_write")}
    return allow


def load_allow():
    allow_path = os.path.join(os.path.dirname(__file__), "perfgate_allow.json")
    if not os.path.exists(allow_path):
        return {}
    with open(allow_path) as f:
        return parse_allow(json.load(f))


def byte_cap(base):
    return int(base * BYTE_RATIO + BYTE_FLOOR)


def gate(base_pm, cur_pm, base_q, cur_q, allow):
    """Returns (failures, lines). Pure so --selftest can drive it."""
    lines, fails = [], []
    common = sorted(set(base_pm) & set(cur_pm))
    for q in common:
        b, c = base_pm[q].get("jobs", 0), cur_pm[q].get("jobs", 0)
        bw = base_pm[q].get("shuffle_write", 0)
        cw = cur_pm[q].get("shuffle_write", 0)
        ent = allow.get(q)
        if c < b:
            lines.append(f"OK   {q}: jobs {b} -> {c} (improved)")
        elif c > b:
            cap = ent["max_jobs"] if ent else None
            if cap is not None and c <= cap:
                lines.append(f"ALLOW {q}: jobs {b} -> {c} (cap {cap}) — {ent['reason']}")
            else:
                w = ""
                if q in base_q and q in cur_q:
                    w = f" (wall {base_q[q]:.1f}s -> {cur_q[q]:.1f}s, advisory)"
                why = (f"beyond recorded cap {cap}" if ent else "with no recorded reason")
                lines.append(f"FAIL {q}: jobs {b} -> {c} {why}{w}")
                fails.append((q, "jobs"))
        if cw > byte_cap(bw):
            # the recorded cap is ABSOLUTE — the band already widened the
            # baseline trigger, so banding the cap too would let an
            # allowlisted query grow ~50%+256KiB past its accepted bytes
            bcap = ent["max_shuffle_write"] if ent else None
            if bcap is not None and cw <= bcap:
                lines.append(
                    f"ALLOW {q}: shuffle_write {bw} -> {cw} (cap {bcap}) — {ent['reason']}")
            else:
                why = f"beyond recorded cap {bcap}" if ent else \
                    f"> {byte_cap(bw)} = base*{BYTE_RATIO}+{BYTE_FLOOR}B"
                lines.append(
                    f"FAIL {q}: shuffle_write {bw} -> {cw} ({why}) — "
                    f"possible lost pushdown inside a stage")
                fails.append((q, "shuffle_write"))
    return fails, lines, common


def selftest():
    """The gate must (a) catch a synthetic lost-pushdown byte inflation and a
    job-count growth past an allowlist cap, (b) pass identical records and
    (c) refuse an uncapped allowlist entry."""
    base = {"qx": {"jobs": 10, "shuffle_write": 1_000_000},
            "qy": {"jobs": 5, "shuffle_write": 50_000},
            "qz": {"jobs": 7, "shuffle_write": 10_000}}
    allow = parse_allow({"qy": {"reason": "recorded trade", "max_jobs": 6,
                                "max_shuffle_write": 50_000}})
    # identical → pass
    f0, _, _ = gate(base, base, {}, {}, allow)
    assert not f0, f"identical records must pass, got {f0}"
    # unpushed filter: same jobs, 4x shuffle bytes → byte gate fires
    cur = {q: dict(m) for q, m in base.items()}
    cur["qx"]["shuffle_write"] = 4_000_000
    f1, _, _ = gate(base, cur, {}, {}, allow)
    assert ("qx", "shuffle_write") in f1, f"byte gate missed inflation: {f1}"
    # allowlisted query growing BEYOND its recorded cap → fails (ADVICE r18)
    cur2 = {q: dict(m) for q, m in base.items()}
    cur2["qy"]["jobs"] = 9
    f2, _, _ = gate(base, cur2, {}, {}, allow)
    assert ("qy", "jobs") in f2, f"cap not enforced: {f2}"
    # allowlisted growth INSIDE the cap → allowed
    cur3 = {q: dict(m) for q, m in base.items()}
    cur3["qy"]["jobs"] = 6
    f3, _, _ = gate(base, cur3, {}, {}, allow)
    assert not f3, f"in-cap growth must be allowed: {f3}"
    # byte jitter inside the band → pass
    cur4 = {q: dict(m) for q, m in base.items()}
    cur4["qx"]["shuffle_write"] = 1_300_000
    f4, _, _ = gate(base, cur4, {}, {}, allow)
    assert not f4, f"in-band jitter must pass: {f4}"
    # allowlisted bytes beyond the RECORDED cap → fail: the cap is
    # absolute — the band widened the baseline trigger, it must not
    # stack on the cap too (code-review r19)
    base5 = {"qy": {"jobs": 5, "shuffle_write": 10_000_000}}
    allow5 = parse_allow({"qy": {"reason": "trade", "max_jobs": 5,
                                 "max_shuffle_write": 20_000_000}})
    cur5 = {"qy": {"jobs": 5, "shuffle_write": 60_000_000}}  # > band AND > cap
    f5, _, _ = gate(base5, cur5, {}, {}, allow5)
    assert ("qy", "shuffle_write") in f5, f"byte cap not absolute: {f5}"
    # and past the band but inside the recorded cap → allowed
    cur6 = {"qy": {"jobs": 5, "shuffle_write": 18_000_000}}
    f6, _, _ = gate(base5, cur6, {}, {}, allow5)
    assert not f6, f"in-cap byte growth must be allowed: {f6}"
    # a bare-string entry carries no cap → refused, naming its query
    try:
        parse_allow({"qw": "a reason with no cap"})
        raise AssertionError("a bare-string allowlist entry must be refused")
    except ValueError as e:
        assert "qw" in str(e), f"refusal must name the query: {e}"
    print("perfgate selftest: pass (8 scenarios)")
    return 0


def main():
    if "--selftest" in sys.argv[1:]:
        return selftest()
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if len(args) != 2:
        print(__doc__)
        return 2
    base_pm, base_q = load_metrics(args[0])
    cur_pm, cur_q = load_metrics(args[1])
    try:
        allow = load_allow()
    except ValueError as e:
        print(f"perfgate: {e}")
        return 2

    fails, lines, common = gate(base_pm, cur_pm, base_q, cur_q, allow)
    for ln in lines:
        print(ln)

    new = sorted(set(cur_pm) - set(base_pm))
    gone = sorted(set(base_pm) - set(cur_pm))
    if new:
        print(f"INFO new queries (no baseline): {', '.join(new)}")
    if gone:
        print(f"INFO queries missing from current run: {', '.join(gone)}")

    tb = sum(base_pm[q].get("jobs", 0) for q in common)
    tc = sum(cur_pm[q].get("jobs", 0) for q in common)
    print(f"TOTAL jobs over {len(common)} common queries: {tb} -> {tc}")
    if fails:
        print(f"perfgate: {len(fails)} unexplained regression(s)")
        return 1
    print("perfgate: pass")
    return 0


if __name__ == "__main__":
    sys.exit(main())
