"""Anchored node-name matching over logical-plan strings.

Three gates (`metabound._ROW_MULTIPLYING`, `metabound._NON_SCAN_NODES`,
`sampling._EXPENSIVE_NODES`) classify a frame by whether its analyzed
logical plan CONTAINS certain node kinds. Bare substring matching
(``"Join" in plan``) false-positives on column names, aliases and
string literals that merely contain a node token (a column named
``myJoinKey`` or ``JoinSample``) — harmless for the two gates that
fail safe into an exact count / skipped widen, but a real cost for
``_expensive_lineage`` (an unnecessary full localCheckpoint
materialization).

The analyzed plan renders ONE node per line with the node name as the
first identifier after the tree-drawing prefix (``+- ``, ``:- ``,
``:  ``, leading spaces), so matching the line-leading token is exact
for node presence: ``Join Inner, ...`` still matches prefix ``Join``;
``Project [myJoinKey#3]`` no longer does. Prefix (not whole-token)
matching preserves the gates' historical reach over node families
(``Repartition`` → ``RepartitionByExpression``, ``FlatMap`` →
``FlatMapGroupsInPandas``, ``Deduplicate`` →
``DeduplicateWithinWatermark``).
"""

from __future__ import annotations

import re

#: line-leading node token: tree-drawing characters then the first
#: identifier. The char class covers every prefix the analyzed-plan
#: renderer emits (spaces, ``:``, ``+``, ``-``; ``'`` for unresolved
#: nodes, ``*`` never appears in analyzed plans but is harmless).
_NODE_RE = re.compile(r"^[\s:+\-*']*([A-Za-z][A-Za-z0-9]*)", re.M)


def plan_node_names(plan: str) -> list[str]:
    """The line-leading node-name token of every line of ``plan``."""
    return _NODE_RE.findall(plan)


def plan_has_node(plan: str, prefixes: tuple[str, ...]) -> bool:
    """True iff any line-leading node name starts with one of
    ``prefixes``."""
    return any(
        name.startswith(prefixes) for name in plan_node_names(plan)
    )
