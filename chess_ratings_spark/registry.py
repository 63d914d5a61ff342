"""Query/oracle registry — the single source of truth for the driver
contract (``__spark_entry__.queries()`` / ``oracle_sql()``).

Each operator declared in SURVEY.md §2 registers exactly one named query
(a ``(spark, sf_dir) -> DataFrame`` callable) and, when SQL-expressible,
one DuckDB oracle SQL string over the same parquet tables. Registration
happens at import time of ``chess_ratings_spark.plans``.

Determinism rules every registered query must follow (the driver hash
compare is exact):
- alias every computed column identically in Spark and SQL;
- round order-dependent float aggregates (sum/avg over many rows) to a
  fixed scale on BOTH sides — per-row IEEE arithmetic is bit-exact across
  engines, but reduction order is not;
- DuckDB type quirks: ``sum(INTEGER)`` is HUGEINT (cast to BIGINT),
  ``count`` is BIGINT on both; avoid returning raw TIMESTAMP where a
  formatted string or epoch integer works.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None = None  # DuckDB SQL; None => rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}

#: Driver-window policy: SURVEY.md §2 operators' evidence floor, every
#: other query's floor, the window the driver checks, and the slots per
#: future round held for new registrations and re-checks.
S2_FLOOR, DEPTH_FLOOR, WINDOW, RESERVE = 5, 10, 50, 7
ROOT = Path(__file__).resolve().parents[1]


@dataclass(frozen=True)
class Rotation:
    current: int  # the round being built: one past the newest evidence
    latest: dict[str, int]  # name -> latest round with a green row
    survey2: frozenset[str]

    def deadline(self, name: str, evidence: dict[str, int] | None = None) -> int:
        """The round by which ``name`` must be back in the window."""
        floor = S2_FLOOR if name in self.survey2 else DEPTH_FLOOR
        return (self.latest if evidence is None else evidence)[name] + floor + 1

    @property
    def order(self) -> list[str]:
        """Every registered name: never-checked first, then EDF."""
        names = sorted(REGISTRY)
        never = [n for n in names if n not in self.latest]
        checked = [n for n in names if n in self.latest]
        return never + sorted(checked, key=lambda n: (self.deadline(n), n))

    @property
    def window(self) -> list[str]:
        return self.order[:WINDOW]

    def cohorts(
        self, window: list[str], rounds: int = 2, fill: int = WINDOW - RESERVE
    ) -> list[list[str]]:
        """The mandatory cohort of each of the next ``rounds`` rounds,
        assuming ``window`` goes green now and each later round
        refreshes its ``fill`` earliest-deadline names."""
        sim = dict(self.latest)
        sim.update(dict.fromkeys(window, self.current))
        out = []
        for future in range(self.current + 1, self.current + rounds + 1):
            out.append(sorted(n for n in sim if self.deadline(n, sim) <= future))
            edf = sorted(sim, key=lambda n: (self.deadline(n, sim), n))
            sim.update(dict.fromkeys(edf[:fill], future))
        return out


def survey2_ids(root: Path = ROOT) -> frozenset[str]:
    src = (root / "SURVEY.md").read_text()
    sec2 = src[src.index("## 2. Operator inventory") : src.index("## 3. Query lifecycle")]
    ids = set(re.findall(r"^\| `([a-z0-9_]+)`", sec2, re.M))
    ids.add("val_constraints")  # declared in §2.7 prose, not a table row
    return frozenset(ids)


def rotation(root: Path = ROOT) -> Rotation:
    """The driver window as a pure function of the evidence under ``root``.

    The driver oracle-checks the first WINDOW names of ``queries()``. A
    name's deadline is its latest green round in ``CORRECTNESS_r*.json``
    plus its floor (S2_FLOOR for SURVEY.md §2 operators, DEPTH_FLOOR for
    the rest) plus one; names are emitted earliest-deadline-first, never-
    checked names first, alphabetical within a tie. Each future round
    holds RESERVE slots back. Evidence and SURVEY.md are read per call,
    never at import: Python workers get the package without them."""
    latest: dict[str, int] = {}
    newest = 0
    for p in root.glob("CORRECTNESS_r*.json"):
        rn = int(p.stem.split("_r")[1])
        newest = max(newest, rn)
        for name, row in json.loads(p.read_text()).items():
            if row.get("hash_match"):
                latest[name] = max(latest.get(name, 0), rn)
    return Rotation(newest + 1, latest, survey2_ids(root))


def _ordered() -> list[Query]:
    return [REGISTRY[n] for n in rotation().order]


def register(
    name: str, oracle: str | None = None, doc: str = "", tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a driver-facing query under SURVEY §2's ID."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query id: {name}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""), tags=tags)
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return {q.name: q.fn for q in _ordered()}


def oracles() -> dict[str, str]:
    return {q.name: q.oracle for q in _ordered() if q.oracle is not None}
