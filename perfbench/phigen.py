"""Seeded Φ-spec generator over the ``sales`` relation.

The specs use the grammar ``tests/test_phi_property.py`` draws from: grouping
sets from ``prod`` (25 groups at sf0.1) to ``cust,prod`` (289,583 groups), one
or two grouping variables, σ-conditions over the states NY/CT/NJ, a global
``WHERE year = <1995..2001>`` and nested HAVING trees.  Each grouping
variable takes one condition *kind*, and the kind decides which planner
strategy compiles it (``phi.planner.classify_gv``).

``pool_specs`` is what the Φ workloads run: one spec per :data:`CELLS` entry,
so every seed has the same mix of strategies and grouping-set sizes and only
the details (aggregates, operators, literals, σ, HAVING trees) vary.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

FNS = ("sum", "avg", "min", "max", "count")
STATES = ("NY", "CT", "NJ")
YEARS = tuple(range(1995, 2002))
THETA = ("<", "<=", ">", ">=")
G0 = "min_day"  # every spec carries one group-0 aggregate


def _same(v: tuple[str, ...], name: str) -> list[str]:
    return [f"{{MF.{g}.{name}}}[=]{{{g}}}" for g in v]


def gv_conds(
    rng: random.Random, v: tuple[str, ...], kind: str, name: str, prev: list[str]
) -> list[str] | None:
    """MF-conditions of one grouping variable, or None when ``kind`` does not
    apply to grouping set ``v``."""
    has_month = "month" in v
    if kind in ("same", "sigma_only"):
        return _same(v, name) if kind == "same" else []
    if kind == "theta":
        if not has_month:
            return None
        conds = [f"{{MF.month.{name}}}[{rng.choice(THETA)}]{{month}}"]
        return conds + [c for c in _same(v, name) if ".month." not in c]
    if kind == "anti":
        if len(v) < 2:
            return None
        return [f"{{MF.{v[0]}.{name}}}[!=]{{{v[0]}}}"] + _same(v[1:], name)
    if kind == "dep":
        if not prev:
            return None
        return _same(v, name) + [f"{{MF.{rng.choice(prev)}.{name}}}[<]{{quant}}"]
    if kind == "two_theta":
        if v != ("year", "month"):
            return None
        return [
            f"{{MF.year.{name}}}[{rng.choice(THETA)}]{{year}}",
            f"{{MF.month.{name}}}[{rng.choice(THETA)}]{{month}}",
        ]
    if kind == "g0_theta":
        if not has_month:
            return None
        op = rng.choice(THETA + ("!=",))
        return [c for c in _same(v, name) if ".month." not in c] + [
            f"{{MF.{G0}.{name}}}[{op}]{{month}}"
        ]
    if kind == "pinned_rowcond":
        op = rng.choice(THETA + ("!=",))
        return _same(v, name) + [f"{{MF.{G0}.{name}}}[{op}]{{quant}}"]
    raise ValueError(f"unknown kind {kind!r}")


def _having(rng: random.Random, fields: list[str], depth: int) -> str:
    if depth == 0 or rng.randint(0, 2) == 0:
        return f"{{MF.{rng.choice(fields)},{rng.choice(('>', '<', '>='))},{rng.randint(0, 30)}}}"
    parts = [_having(rng, fields, depth - 1) for _ in range(rng.randint(2, 3))]
    line = parts[0]
    for p in parts[1:]:
        line += f" {rng.choice(('[&&]', '[||]'))} {p}"
    return f"({line})" if rng.random() < 0.5 else line


def build_spec(
    rng: random.Random,
    v: tuple[str, ...],
    kinds: tuple[str, ...],
    *,
    where: bool,
    having: bool,
    fns: tuple[str, ...] = FNS,
) -> str:
    """One spec with grouping set ``v`` and one grouping variable per kind;
    each variable's σ-condition is drawn at random."""
    names: list[str] = []
    slots: list[str] = []
    for i, kind in enumerate(kinds, start=1):
        name = f"{rng.choice(fns)}_quant_{i}"
        conds = gv_conds(rng, v, kind, name, names)
        if conds is None:
            raise ValueError(f"kind {kind!r} does not apply to {v}")
        if rng.random() < 0.5:
            if rng.random() < 0.5:
                conds.append(f"{{state}}[=]{{{rng.choice(STATES)}}}")
            else:
                conds.append(f"{{quant}}[>]{{{rng.randint(-10, 50)}}}")
        if not conds:
            conds = _same(v, name)  # an empty such-that slot cannot round-trip
        names.append(name)
        slots.append(":".join(conds))
    if where:
        slots.append(f"{{year}}[==]{{{rng.choice(YEARS)}}}")
    lines = [
        ",".join((*v, G0, *names)),
        str(len(kinds)),
        ",".join(v),
        ",".join(names),
        ",".join(slots),
    ]
    if having:
        lines.append(_having(rng, names, rng.randint(1, 3)))
    return "\n".join(lines)


@dataclass(frozen=True)
class Cell:
    """One stratum of the Φ workloads: the strategy it is built to reach,
    its grouping set and grouping-variable kinds, and whether it carries a
    WHERE and a HAVING."""

    strategy: str
    v: tuple[str, ...]
    kinds: tuple[str, ...]
    where: bool
    having: bool
    fns: tuple[str, ...] = FNS


CELLS = (
    Cell("cond_agg", ("cust", "prod"), ("same", "sigma_only"), where=False, having=True),
    Cell("window", ("prod", "month"), ("theta",), where=True, having=False),
    # min/max with an anti condition leave WINDOW for GROUP_JOIN
    Cell(
        "window", ("prod", "month"), ("anti",), where=False, having=True,
        fns=("sum", "avg", "count"),
    ),
    Cell("fact_window", ("cust", "month"), ("pinned_rowcond",), where=True, having=False),
    Cell("group_join", ("year", "month"), ("two_theta",), where=False, having=True),
    Cell("group_join", ("prod", "month"), ("g0_theta",), where=True, having=False),
    Cell("join", ("prod",), ("same", "dep"), where=False, having=True),
)


def pool_specs(seed: int) -> list[tuple[str, str]]:
    """``(label, spec)`` per cell for one seed, in cell order."""
    rng = random.Random(f"phi-pool:{seed}")
    return [
        (
            f"adhoc_{i}_{c.strategy}",
            build_spec(
                rng, c.v, c.kinds, where=c.where, having=c.having, fns=c.fns
            ),
        )
        for i, c in enumerate(CELLS)
    ]
