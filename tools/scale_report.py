"""Scale-headroom report: per-query sf-to-sf scaling factors.

Input: a bench JSON with a primary block and an ``sf_extra`` block
(bench.py emits both when SPARK_GRAFT_SF2_DIR is set).  Output: a
markdown table of per-query times at both scales and the ratio
big/small, sorted worst-first, with offenders above the threshold
flagged.

The threshold for a 10× data step defaults to 12× (10× data × a log
factor for sort/shuffle stages); anything above that is super-linear
and needs a diagnosis before it can be trusted at the next order of
magnitude.  Sub-second small-scale queries get an absolute floor so
fixed overhead (session, index-store write latency, planning) isn't
read as super-linear scaling: a 0.3 s query that becomes 4 s is
dominated by constant cost, not by a bad asymptotic.

Usage: python tools/scale_report.py BENCH_sf1.json [--threshold 12]

Multi-point mode (round 11, generalized round 13): pass N ≥ 2
standalone recordings in ascending-sf order to get the per-step slope
table COVERAGE.md carries — the later steps are what separate real
slope from fixed-cost share (the sf3 step caught linkage_match_topk's
hidden quadratic; the sf10 step settles the dedup headliners' "linear"
claim across a third decade):

    python tools/scale_report.py BENCH_IDLE_r13.json BENCH_sf1.json \
        BENCH_sf3.json BENCH_sf10.json
"""

from __future__ import annotations

import argparse
import json


def report(
    doc: dict, threshold: float = 12.0, floor_small_sec: float = 0.5
) -> tuple[list[dict], list[str]]:
    big = doc.get("queries") or {}
    extra = doc.get("sf_extra") or {}
    small = extra.get("queries") or {}
    rows, flags = [], []
    for name in big:
        if name not in small:
            continue
        b, s = big[name], small[name]
        ratio = round(b / s, 2) if s > 0 else None
        fixed_dominated = s < floor_small_sec
        rows.append(
            {
                "query": name,
                "small_sec": s,
                "big_sec": b,
                "ratio": ratio,
                "fixed_dominated": fixed_dominated,
            }
        )
        if ratio is not None and ratio > threshold and not fixed_dominated:
            flags.append(name)
    rows.sort(key=lambda r: -(r["ratio"] or 0))
    return rows, flags


def multi_point(paths: list[str], floor_small_sec: float = 0.5) -> None:
    """Per-step slope table over N ≥ 2 standalone recordings (round 13
    generalizes the round-11 three-point mode so a 4th decade — sf10 —
    extends the same table; VERDICT r12 #4)."""
    docs = []
    for p in paths:
        with open(p) as f:
            d = json.load(f)
        if "parsed" in d:
            d = d["parsed"] or {}
        docs.append(d)
    sfs = [d.get("sf") for d in docs]
    qs = [d.get("queries") or {} for d in docs]
    if any(not sf for sf in sfs):
        raise SystemExit(
            f"multi_point: every recording needs a nonzero 'sf' "
            f"(got {sfs} from {paths}) — pass standalone bench "
            "recordings, smallest sf first"
        )
    if sorted(sfs) != sfs:
        raise SystemExit(
            f"multi_point: recordings must be in ascending-sf order "
            f"(got {sfs})"
        )
    names = [n for n in qs[0] if all(n in q for q in qs[1:])]
    if not names:
        raise SystemExit(
            "multi_point: no query appears in all recordings"
        )
    steps = [sfs[i + 1] / sfs[i] for i in range(len(sfs) - 1)]
    rows = sorted(
        names, key=lambda n: -(qs[-1][n] / qs[-2][n] if qs[-2][n] else 0)
    )

    def ratio(num: float, den: float) -> str:
        # a 0.0 timing (sub-resolution query) makes the slope undefined,
        # not infinite — same guard the sort key applies
        return f"{num / den:.2f}×" if den else "n/a"

    header = (
        "| query | "
        + " | ".join(f"sf{sf} s" for sf in sfs)
        + " | "
        + " | ".join(
            f"sf{sfs[i]}→sf{sfs[i + 1]} ({steps[i]:.0f}×)"
            for i in range(len(steps))
        )
        + " | note |"
    )
    print(header)
    print("|" + "---|" * (len(sfs) + len(steps) + 2))
    for n in rows:
        ts = [q[n] for q in qs]
        note = (
            "fixed-cost dominated at small sf"
            if ts[0] < floor_small_sec
            else ""
        )
        print(
            f"| {n} | "
            + " | ".join(f"{t:.2f}" for t in ts)
            + " | "
            + " | ".join(
                ratio(ts[i + 1], ts[i]) for i in range(len(steps))
            )
            + f" | {note} |"
        )
    totals = [sum(q[n] for n in rows) for q in qs]
    print(
        "\ntotals: "
        + " -> ".join(f"{t:.1f}s" for t in totals)
        + " ("
        + ", ".join(
            f"{ratio(totals[i + 1], totals[i])} for {steps[i]:.0f}x"
            for i in range(len(steps))
        )
        + ")"
    )
    worst = rows[0]
    print(
        f"worst sf{sfs[-2]}->sf{sfs[-1]} slope: {worst} at "
        f"{ratio(qs[-1][worst], qs[-2][worst])}"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("paths", nargs="+")
    ap.add_argument("--threshold", type=float, default=12.0)
    args = ap.parse_args()
    if len(args.paths) >= 2:
        multi_point(args.paths)
        return
    with open(args.paths[0]) as f:
        doc = json.load(f)
    if "parsed" in doc:
        doc = doc["parsed"] or {}
    rows, flags = report(doc, args.threshold)
    sf_big = doc.get("sf")
    sf_small = (doc.get("sf_extra") or {}).get("sf")
    if not rows or sf_big is None or sf_small is None:
        raise SystemExit(
            f"{args.paths[0]}: needs a primary block AND an sf_extra block "
            "with overlapping queries (run bench.py with "
            "SPARK_GRAFT_SF2_DIR set); nothing to compare"
        )
    print(f"| query | sf{sf_small} s | sf{sf_big} s | ratio | note |")
    print("|---|---|---|---|---|")
    for r in rows:
        note = ""
        if r["query"] in flags:
            note = f"**SUPER-LINEAR (> {args.threshold}x)**"
        elif r["fixed_dominated"]:
            note = "fixed-cost dominated at small sf"
        print(
            f"| {r['query']} | {r['small_sec']} | {r['big_sec']} "
            f"| {r['ratio']} | {note} |"
        )
    tot_b = sum(r["big_sec"] for r in rows)
    tot_s = sum(r["small_sec"] for r in rows)
    print(
        f"\ntotal: {tot_s:.1f}s -> {tot_b:.1f}s "
        f"({tot_b / tot_s:.2f}x for a {sf_big / sf_small:.0f}x data step)"
    )
    if flags:
        print(f"flagged super-linear: {flags}")
    else:
        print(f"no query above the {args.threshold}x gate")


if __name__ == "__main__":
    main()
