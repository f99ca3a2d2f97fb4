"""Suite + bench wall-budget guard (r9 verdict item 6).

Both walls creep a little every round (deepened queries, new pinned
invariants); this makes the creep VISIBLE instead of silent. Two
budgets live in the committed ``wall_budget.json``:

- ``suite_sec_per_test`` — seconds per collected test, aggregated over
  the real suite chunks recorded by the conftest hook into
  ``.suite_walls.jsonl`` (gitignored). Per-test normalization makes
  the number chunk-layout-agnostic: 3 parallel chunks or one
  sequential run aggregate to the same ratio, and ADDING tests is
  free while SLOWING tests is not — exactly the distinction a wall
  budget should draw.
- ``bench_wall_sec`` — bench.py's end-to-end wall, which bench.py
  itself also records and self-flags in bench_structure.json.

HOST-SPEED NORMALIZATION (r12): boot-to-boot host drift is real
(+34.7% wall on identical code across two boots), so every wall
measurement carries a deterministic sha256 canary and growth is judged
canary-normalized. Each metric is normalized by its OWN epoch's
canary (r12 ADVICE): the suite sec/test metric uses the canary
recorded inside the walls.jsonl records it aggregates (the conftest
hook stamps one per pytest invocation), the bench metric uses the
bench sidecar's — the two may have been measured on different boots,
so a single shared canary would misattribute drift. When a metric has
canaries on both sides, the normalized growth is the SOLE effective
metric (never OR-ed with raw — a faster host must not mask a real
regression); without a canary pair it falls back to raw growth.

CONTROL-SET NORMALIZATION (r15, the r14 verdict's top tooling item):
the single-thread canary provably cannot see MULTI-CORE contention —
r14's driver bench flagged +23.3% at canary ratio 1.012 while
untouched queries moved ±40% in both directions and same-code walls
swung 362–616 s in one afternoon. The bench runs 150+ queries in one
parallel session, so the contention that inflates the wall inflates
the UNTOUCHED TPC-H controls identically; the median now/ref wall
ratio over ``BENCH_CONTROLS`` (q4/q12/q14/q18 — never edit these
without re-baselining) is therefore the right deflator for the bench
wall. Effective-metric preference for the bench: control-normalized
(when >= MIN_CONTROLS pair) > canary-normalized > raw. The flag
output self-triages: "controls inflated n%, normalized growth m%".
:func:`ladder` is the one implementation of that preference; bench.py
records its own run against the committed sidecar through it too.

TWO-EPOCH REALITY (documented per the r14 verdict): the committed
sidecar (bench_structure.json) is necessarily written by the
builder's LAST pre-commit run, while the driver's BENCH_r{N}.json run
happens post-commit on a different host epoch — the two can never be
the same number, and "committed sidecar matches BENCH_rN" is
unachievable as stated. wall_budget.json is the AUTHORITATIVE anchor
(rebaselined only via --update); the sidecar's prev_committed chain
is early warning. See README "Bench walls & the two-epoch reality".

``python tools/wall_budget.py`` checks the latest measurements against
the committed budget and exits 1 past +20% effective growth (a FLAG to
investigate — this rig shows ±15% session noise, so re-measure once
idle before concluding regression). ``--update`` rewrites the budget
from the latest measurements after an accepted change.

Chunk filter: only records with >= 50 collected tests count (tiny
``-k`` runs amortize the ~6 s Spark startup over a handful of tests
and would poison the ratio), and only the most recent records summing
to >= 250 tests are used (≈ suite coverage at the current 350+ size).
"""

from __future__ import annotations

import json
import os
import sys

_HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(_HERE)
WALLS = os.path.join(REPO, ".suite_walls.jsonl")
BUDGET = os.path.join(REPO, "wall_budget.json")
BENCH_SIDE = os.path.join(REPO, "bench_structure.json")

MIN_CHUNK_TESTS = 50
MIN_COVERED_TESTS = 250
MAX_GROWTH_PCT = 20.0

# Untouched TPC-H controls: stable query builders that no round's
# engineering touches, timed inside the same parallel bench session as
# everything else — so host multi-core contention inflates them by the
# same factor it inflates the total wall. EDITING ANY OF THESE
# REQUIRES A --update REBASELINE IN THE SAME COMMIT.
BENCH_CONTROLS = (
    "q4_late_shipment_priority",
    "q12_priority_by_returnflag",
    "q14_promo_revenue",
    "q18_large_volume_orders",
)
# fewer paired controls than this → the median is one noisy query's
# ratio wearing a trench coat; fall back to the canary
MIN_CONTROLS = 3


def control_ratio(
    now_queries: dict | None,
    ref_walls: dict | None,
    controls: tuple[str, ...] = BENCH_CONTROLS,
) -> tuple[float | None, int]:
    """(median now/ref wall ratio over the paired controls, n_paired).

    Pure: both sides are plain {query_name: wall_sec} dicts. Ratio is
    None when fewer than MIN_CONTROLS controls pair (missing from
    either side, or zero/negative walls). The median — not the mean —
    so one control hitting a cold cache or an unlucky scheduler slot
    cannot drag the deflator."""
    now_queries = now_queries or {}
    ref_walls = ref_walls or {}
    ratios = sorted(
        now_queries[c] / ref_walls[c]
        for c in controls
        if isinstance(now_queries.get(c), (int, float))
        and isinstance(ref_walls.get(c), (int, float))
        and now_queries[c] > 0
        and ref_walls[c] > 0
    )
    n = len(ratios)
    if n < MIN_CONTROLS:
        return None, n
    mid = n // 2
    med = ratios[mid] if n % 2 else (ratios[mid - 1] + ratios[mid]) / 2.0
    return round(med, 3), n


def ladder(
    now: float | None,
    ref: float | None,
    ctl_ratio: float | None = None,
    ctl_n: int = 0,
    now_canary: float | None = None,
    ref_canary: float | None = None,
) -> dict:
    """The normalization ladder for one wall metric: growth of ``now``
    over ``ref``, deflated by the first rung that applies —

    1. CONTROL SET (``ctl_ratio``, see :func:`control_ratio`): sees the
       multi-core contention the single-thread canary cannot;
    2. single-thread CANARY (``now_canary / ref_canary``): boot-to-boot
       CPU drift;
    3. raw growth.

    Whichever applies is the SOLE effective metric — never OR-ed with
    raw, so a faster host cannot mask a real regression. Returns
    ``host_canary_ratio``, ``growth_pct``, ``normalizer`` ("controls",
    "canary" or None), ``normalized_growth_pct``, ``flag`` (effective
    growth past MAX_GROWTH_PCT) and ``note`` (the self-triage text);
    the growth fields are None and ``flag`` False without a
    reference."""
    host = (
        round(now_canary / ref_canary, 3) if now_canary and ref_canary else None
    )
    r = {
        "host_canary_ratio": host,
        "growth_pct": None,
        "normalizer": None,
        "normalized_growth_pct": None,
        "flag": False,
        "note": "",
    }
    if now is None or not ref:
        return r
    r["growth_pct"] = growth = 100.0 * (now / ref - 1.0)
    if ctl_ratio or host:
        r["normalizer"] = "controls" if ctl_ratio else "canary"
        norm = 100.0 * (now / (ctl_ratio or host) / ref - 1.0)
        r["normalized_growth_pct"] = norm
        r["note"] = (
            f", controls inflated {100.0 * (ctl_ratio - 1.0):+.1f}% "
            f"(median of {ctl_n}), normalized growth {norm:+.1f}%"
            if ctl_ratio
            else f", host-normalized {norm:+.1f}% at canary ratio {host}"
        )
    else:
        norm = growth
        r["note"] = (
            ", no control/canary pair — raw growth is the effective metric"
        )
    r["flag"] = norm > MAX_GROWTH_PCT
    return r


def measure_suite_sec_per_test() -> tuple[float, int, float | None] | None:
    """(sec_per_test, n_tests_covered, canary_sec) over the most
    recent real chunks, or None if not enough has been recorded yet.

    canary_sec is the wall-weighted mean of the per-record host
    canaries (each pytest invocation stamps its own epoch's canary);
    None when the used records predate canary stamping."""
    if not os.path.exists(WALLS):
        return None
    recs = []
    with open(WALLS) as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            try:
                r = json.loads(line)
            except ValueError:
                continue
            if r.get("n_tests", 0) >= MIN_CHUNK_TESTS and r.get("exit") == 0:
                recs.append(r)
    recs.sort(key=lambda r: r["ts"], reverse=True)
    wall = tests = 0.0
    canary_wall = canary_weighted = 0.0
    all_canaried = True
    for r in recs:
        wall += r["wall_s"]
        tests += r["n_tests"]
        if r.get("canary_s"):
            canary_wall += r["wall_s"]
            canary_weighted += r["canary_s"] * r["wall_s"]
        else:
            all_canaried = False
        if tests >= MIN_COVERED_TESTS:
            break
    if tests < MIN_COVERED_TESTS:
        return None
    # A canary is only meaningful when EVERY used record carries one:
    # a window mixing pre-canary and canary records measured on
    # different boots would misattribute host drift for the uncovered
    # portion. Partial coverage → None → callers fall back to raw
    # growth (the conservative comparison).
    canary = (
        round(canary_weighted / canary_wall, 3)
        if all_canaried and canary_wall
        else None
    )
    return round(wall / tests, 3), int(tests), canary


def measure_bench_wall() -> (
    tuple[float | None, float | None, dict | None, float | None]
):
    """(bench_wall_sec, machine_canary_sec, per_query_walls, sf) from
    the latest sidecar."""
    try:
        with open(BENCH_SIDE) as fh:
            side = json.load(fh)
        return (
            side.get("bench_wall_sec"),
            side.get("machine_canary_sec"),
            side.get("queries"),
            side.get("sf"),
        )
    except Exception:
        return None, None, None, None


def main() -> int:
    update = "--update" in sys.argv[1:]
    suite = measure_suite_sec_per_test()
    bench, bench_canary, bench_queries, bench_sf = measure_bench_wall()
    suite_canary = suite[2] if suite else None

    if update:
        budget = {
            "suite_sec_per_test": suite[0] if suite else None,
            "suite_tests_covered": suite[1] if suite else None,
            # per-metric host canaries at budget time — each metric is
            # normalized by its OWN epoch's canary (the suite and the
            # bench may have been measured on different boots)
            "suite_machine_canary_sec": suite_canary,
            "bench_wall_sec": bench,
            "bench_machine_canary_sec": bench_canary,
            # reference walls of the untouched TPC-H controls, measured
            # in the SAME parallel session as bench_wall_sec — the
            # multi-core-contention deflator (r15)
            "bench_control_walls": {
                c: (bench_queries or {}).get(c) for c in BENCH_CONTROLS
            },
            # walls are only comparable at the same scale factor
            "bench_sf": bench_sf,
            "max_growth_pct": MAX_GROWTH_PCT,
        }
        with open(BUDGET, "w") as fh:
            json.dump(budget, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"budget updated: {budget}")
        return 0

    try:
        with open(BUDGET) as fh:
            budget = json.load(fh)
    except Exception:
        print("no committed wall_budget.json — run with --update first")
        return 1

    # legacy budget key (pre-r13) carried one shared canary, measured
    # alongside the bench — it remains valid as the BENCH reference
    ref_bench_canary = budget.get(
        "bench_machine_canary_sec", budget.get("machine_canary_sec")
    )
    ref_suite_canary = budget.get("suite_machine_canary_sec")

    # cross-SF runs are not comparable: an sf0.01 iteration sidecar
    # against the sf0.1 budget would read as a massive (de)flation
    ref_sf = budget.get("bench_sf")
    if ref_sf is not None and bench_sf is not None and ref_sf != bench_sf:
        print(
            f"SKIP  bench wall sec: sidecar sf={bench_sf} differs from "
            f"budget sf={ref_sf} — walls not comparable"
        )
        bench = None

    # control deflator for the bench metric only: the suite chunks are
    # themselves parallel pytest sessions without stable per-test walls,
    # so the canary remains their best normalizer
    ctl_ratio, ctl_n = control_ratio(
        bench_queries, budget.get("bench_control_walls")
    )

    flags = 0
    for label, now, ref, now_canary, ref_canary, ctl in (
        ("suite sec/test", suite[0] if suite else None,
         budget.get("suite_sec_per_test"), suite_canary, ref_suite_canary,
         None),
        ("bench wall sec", bench, budget.get("bench_wall_sec"),
         bench_canary, ref_bench_canary, ctl_ratio),
    ):
        if now is None or not ref:
            print(f"SKIP  {label}: no measurement recorded yet")
            continue
        r = ladder(now, ref, ctl, ctl_n, now_canary, ref_canary)
        flags += r["flag"]
        print(
            f"{'FLAG ' if r['flag'] else 'OK   '} {label}: {now} vs budget "
            f"{ref} ({r['growth_pct']:+.1f}%{r['note']})"
        )
    return 1 if flags else 0


if __name__ == "__main__":
    raise SystemExit(main())
