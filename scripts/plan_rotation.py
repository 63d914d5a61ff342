"""Print the driver window that ``chess_ratings_spark.registry.rotation``
derives from the committed CORRECTNESS_r*.json evidence, and its
two-round feasibility check.

Usage:
    python scripts/plan_rotation.py            # window + 2-round check
    python scripts/plan_rotation.py --horizon  # + EDF simulation to +15

Exits 1 when a mandatory cohort of the next two rounds does not fit the
window minus the reserve.
"""

from __future__ import annotations

import pathlib
import sys

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def main() -> None:
    import chess_ratings_spark.plans  # noqa: F401  (registration import)
    from chess_ratings_spark import registry

    rot = registry.rotation()
    window = rot.window
    print(f"round being built: r{rot.current}  registry: {len(registry.REGISTRY)} queries")
    never = [n for n in rot.order if n not in rot.latest]
    if never:
        print(f"never-checked (must be in window): {never}")
    mand = [n for n in window if n in rot.latest and rot.deadline(n) <= rot.current]
    print(f"mandatory this round (deadline <= {rot.current}): {len(mand)}")
    print(f"window ({len(window)} slots, EDF order):")
    for n in window:
        tag = "NEW" if n not in rot.latest else f"dl{rot.deadline(n)}"
        kind = "S2" if n in rot.survey2 else "depth"
        ev = "-" if n not in rot.latest else f"r{rot.latest[n]}"
        print(f"  {n:40s} {tag:6s} {kind:5s} ev={ev}")

    cap = registry.WINDOW - registry.RESERVE
    ok = True
    for future, cohort in enumerate(rot.cohorts(window), start=rot.current + 1):
        fits = len(cohort) <= cap
        ok &= fits
        print(
            f"r{future} mandatory cohort: {len(cohort)} "
            f"(cap {cap}) {'OK' if fits else 'INFEASIBLE'}"
        )

    if "--horizon" in sys.argv:
        print("\nEDF horizon (15 rounds) by slots refreshed per round:")
        for width in (50, 48, 46, 44):
            sizes = [len(c) for c in rot.cohorts(window, rounds=15, fill=width)]
            bad = [rot.current + 1 + i for i, s in enumerate(sizes) if s > width]
            verdict = "feasible" if not bad else f"breaks at r{bad}"
            print(f"  fill={width}: max cohort {max(sizes)} -> {verdict}")

    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
