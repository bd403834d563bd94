"""Typed path-query DSL → pipeline plan.

Reference analog: the ply lexer in builder/pathlex.py:10-39 (NODE codes
`S|G|P|C|A|D|X|T|W|?`, EDGE `(min-max)`) and the QueryDefinition /
Transition objects in builder/userquery.py:7-50. Here the "compiler" output
is the set of concrete node-type chains (enumerate_programs) the DataFrame
pipeline chains joins over (plans/pipeline.py), one join per transition.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

# builder/builder.py:535-543 help text; builder/pathlex.py:10 token regex
NODE_CODES: dict[str, str] = {
    "S": "chemical_substance",
    "G": "gene",
    "P": "biological_process",
    "C": "cell",
    "A": "anatomical_entity",
    "T": "phenotypic_feature",
    "D": "disease",
    "X": "genetic_condition",
    "W": "pathway",
    "?": "UNSPECIFIED",
}

_EDGE_RE = re.compile(r"\((\d+)-(\d+)\)")
# blow-up guard: a path that expands to more programs is rejected
MAX_PROGRAMS = 10_000


@dataclass(frozen=True)
class Step:
    """One path step (builder/pathlex.py:25 Step namedtuple analog)."""

    node_type: str
    min_path_length: int = 1
    max_path_length: int = 1


class PathSyntaxError(ValueError):
    pass


def tokenize_path(path: str) -> list[Step]:
    """`DGX` or `D(1-2)GX` → [Step]; errors mirror the reference lexer
    (unknown node code raises; path may not end on an edge token,
    builder/pathlex.py:37-38)."""
    steps: list[Step] = []
    pending: tuple[int, int] | None = None
    i = 0
    while i < len(path):
        ch = path[i]
        if ch == "(":
            m = _EDGE_RE.match(path, i)
            if not m:
                raise PathSyntaxError(f"bad edge token at {i}: {path!r}")
            if not steps:
                raise PathSyntaxError("path may not start with an edge token")
            pending = (int(m.group(1)), int(m.group(2)))
            i = m.end()
            continue
        if ch not in NODE_CODES:
            raise PathSyntaxError(f"unknown node code {ch!r} in {path!r}")
        lo, hi = pending if pending else (1, 1)
        steps.append(Step(NODE_CODES[ch], lo, hi))
        pending = None
        i += 1
    if pending is not None:
        raise PathSyntaxError("path may not end on an edge token")
    if not steps:
        raise PathSyntaxError("empty path")
    return steps


def enumerate_programs(
    steps: list[Step], metagraph: set[tuple[str, str]]
) -> list[list[str]]:
    """Expand a typed path with variable-length transitions into every
    concrete node-type chain reachable through the metagraph.

    Reference analog: compile_query renders the path as a Concept-graph
    cypher pattern (`-[:translation*min..max]-`, builder/userquery.py:26-36,
    116-131) and materializes one Program per concrete concept path (72 for
    the logged run, builder/output). Here the metagraph is the distinct
    (src_type, dst_type) pairs of the predicate_map table and the search is
    a driver-side DFS — type-level, dimension-sized, never touches fact data.

    A transition with (min-max) admits min..max metagraph edges between the
    two anchored types, intermediate types unconstrained (cypher's untyped
    interior nodes). '?' (UNSPECIFIED) anchors match any type. Unlike the
    reference, a program here is a *type* chain, not an op chain: the
    instance-level join consumes every op registered for a (src,dst) type
    pair at once (operators/expand.py), which covers the reference's
    per-op program fan-out set-at-a-time.
    """
    all_types = sorted({t for pair in metagraph for t in pair})

    def anchors(step: Step) -> list[str]:
        return all_types if step.node_type == "UNSPECIFIED" else [step.node_type]

    chains: list[list[str]] = [[t] for t in anchors(steps[0])]
    for step in steps[1:]:
        targets = set(anchors(step))
        nxt: list[list[str]] = []
        for chain in chains:
            # DFS from chain tail: all metagraph walks of length min..max
            # ending on an allowed anchor type (type repeats allowed, as in
            # cypher variable-length paths; bounded by max_path_length)
            stack: list[list[str]] = [[chain[-1]]]
            while stack:
                walk = stack.pop()
                depth = len(walk) - 1
                if depth >= step.min_path_length and walk[-1] in targets:
                    nxt.append(chain + walk[1:])
                if depth < step.max_path_length:
                    for src, dst in metagraph:
                        if src == walk[-1]:
                            stack.append(walk + [dst])
        # dedup (a walk can both end on a target and continue to it again)
        seen: set[tuple[str, ...]] = set()
        chains = []
        for c in nxt:
            k = tuple(c)
            if k not in seen:
                seen.add(k)
                chains.append(c)
        if len(chains) > MAX_PROGRAMS:
            raise ValueError(
                f"path expands to >{MAX_PROGRAMS} programs; tighten the query"
            )
    return sorted(chains)
