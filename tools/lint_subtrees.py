"""Lint every registry builder for double-consumed heavy subtrees.

Spark does not dedupe common subplans: a subtree consumed by two join
sides / union branches / agg+join pairs is COMPUTED once per consumer
unless persisted (the round-11 systematic finding — persisting the
shared intermediate was worth 2-5x on the dedup/census families). This
tool makes that audit mechanical (VERDICT r11 "next round" item 6):

For each registry entry (default: all 415) it builds the DataFrame at
$SPARK_GRAFT_SF_DIR (default sf0.001), walks the OPTIMIZED logical
plan (cached frames already substituted as InMemoryRelation leaves —
an already-persisted shared subtree does not flag), groups interior
subtrees by semanticHash, and reports any subtree that

  - appears >= 2 times in one plan,
  - spans >= MIN_NODES nodes, and
  - contains at least one HEAVY operator (Aggregate / Join / Window /
    Generate / Sort / Deduplicate / MapInPandas-style python exec),

i.e. real recomputed work, not a twice-scanned leaf (re-scanning a
pruned parquet leaf is cheap and normal; recomputing an aggregation
pipeline is not).

Usage:
  python tools/lint_subtrees.py                 # lint all entries
  python tools/lint_subtrees.py dd_cluster ...  # lint named entries

Output: one line per flagged (query, subtree) with the count, node
span and the subtree's root simpleString; exit 0 always (audit tool —
the test layer pins the curated expectation).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sanctions_data_pipeline_spark.plans import helpers, registry  # noqa: E402
from sanctions_data_pipeline_spark.session import get_spark  # noqa: E402

HEAVY = (
    "Aggregate", "Join", "Window", "Generate", "Sort", "Deduplicate",
    "MapInPandas", "FlatMapGroupsInPandas", "MapInArrow", "PythonUDF",
)
MIN_NODES = 3
MIN_COUNT = 2


def _walk(node, out):
    """Post-order walk of a py4j LogicalPlan; returns (n_nodes, heavy)
    for ``node`` and appends (hash, n_nodes, heavy, name, node) per
    interior node to ``out``."""
    name = node.nodeName()
    if name == "InMemoryRelation":
        # cached leaf: its stored plan is computed once by contract
        return 1, False
    n = 1
    heavy = any(h in name for h in HEAVY)
    children = node.children()
    for i in range(children.size()):
        cn, ch = _walk(children.apply(i), out)
        n += cn
        heavy = heavy or ch
    if n >= MIN_NODES:
        out.append((node.semanticHash(), n, heavy, name, node))
    return n, heavy


def lint_plan(df) -> list[tuple[int, int, str, str]]:
    """[(count, n_nodes, root_name, root_simple_string)] for every
    duplicated heavy subtree in ``df``'s optimized logical plan."""
    plan = df._jdf.queryExecution().optimizedPlan()
    nodes: list = []
    _walk(plan, nodes)
    by_hash: dict[int, list] = {}
    for h, n, heavy, name, node in nodes:
        if heavy:
            by_hash.setdefault(h, []).append((n, name, node))
    flagged = []
    seen_child_hashes: set[int] = set()
    # report only MAXIMAL duplicated subtrees: a duplicated subtree's
    # own children are duplicated too — noise, not extra findings
    dup_hashes = {h for h, lst in by_hash.items() if len(lst) >= MIN_COUNT}
    for h in dup_hashes:
        lst = by_hash[h]
        n, name, node = max(lst, key=lambda t: t[0])
        children = node.children()
        stack = [children.apply(i) for i in range(children.size())]
        while stack:
            c = stack.pop()
            seen_child_hashes.add(c.semanticHash())
            cc = c.children()
            stack.extend(cc.apply(i) for i in range(cc.size()))
    for h in sorted(dup_hashes):
        if h in seen_child_hashes:
            continue
        lst = by_hash[h]
        n, name, node = max(lst, key=lambda t: t[0])
        flagged.append((len(lst), n, name,
                        node.simpleString(100).splitlines()[0][:160]))
    return flagged


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    spark = get_spark("lint_subtrees")
    qs = registry.queries()
    names = sys.argv[1:] or list(qs)
    n_flagged = 0
    for name in names:
        spark.sparkContext.setJobDescription(f"lint:{name}")
        try:
            with helpers.query_scope():
                hits = lint_plan(qs[name](spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 - audit must finish
            print(f"ERR   {name}: {type(exc).__name__}: {exc}")
            continue
        for count, n, root, s in hits:
            n_flagged += 1
            print(f"DUP   {name}: x{count} nodes={n} root={root} :: {s}")
    print(f"done: {len(names)} queries, {n_flagged} duplicated heavy "
          f"subtrees flagged")


if __name__ == "__main__":
    main()
