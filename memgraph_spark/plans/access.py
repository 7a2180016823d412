"""Statement access mode: may a statement run alongside other reads?

The reference runs read transactions concurrently under snapshot isolation
(src/storage/v2/isolation_level.hpp:20). Here a read's snapshot is the set
of table versions it compiles against, so read-only statements can share
the graph's run lock (catalog.ReadWriteLock) and everything else takes it
exclusively.
"""

from __future__ import annotations

import dataclasses

from memgraph_spark.plans import cypher_ast as A
from memgraph_spark.plans.parser import parse

# CALL { … } only groups clauses; each clause inside it is judged on its own
_READ_CLAUSES = (A.Match, A.Unwind, A.With, A.Return, A.CallSubquery)


def is_read_only(query: str) -> bool:
    """True when every clause of `query` only reads the graph: MATCH,
    OPTIONAL MATCH, UNWIND, WITH, RETURN, CALL { … } over such clauses, and
    CALL of a procedure registered with read_only=True. EXPLAIN/PROFILE,
    admin statements and text that does not parse are not read-only."""
    if query.lstrip()[:7].upper() in ("EXPLAIN", "PROFILE"):
        return False
    try:
        ast = parse(query)
    except Exception:  # noqa: BLE001 - execute() reports the parse error
        return False
    from memgraph_spark.procedures import READ_ONLY
    return all(isinstance(c, _READ_CLAUSES)
               or (isinstance(c, A.CallProc) and c.name.lower() in READ_ONLY)
               for c in _clauses(ast))


def _clauses(node):
    """Every clause in the AST at any depth: union parts, CALL { … }
    bodies, FOREACH updates and subqueries inside expressions (EXISTS)."""
    if isinstance(node, A.Clause):
        yield node
    if dataclasses.is_dataclass(node):
        for f in dataclasses.fields(node):
            yield from _clauses(getattr(node, f.name))
    elif isinstance(node, (list, tuple)):
        for x in node:
            yield from _clauses(x)
    elif isinstance(node, dict):
        for x in node.values():
            yield from _clauses(x)
