"""Exchange-width audit: flag any shuffle that carries a wide column.

Shuffling the corpus `text` column is the classic silent scale killer
(round 6's code review caught one attempt: a projection moved above a
join shipped text through the join's exchange whenever the other side
couldn't broadcast). This tool makes the check mechanical: for every
registered query, render the FORMATTED physical plan (plan-only — no
execution), find every `Exchange`, and classify each one whose input
schema contains `text`:

- ``guard``     — RoundRobinPartitioning REPARTITION_BY_NUM: the gated
                  single-file documents spread in plans/tables.py
                  (never fires on a real corpus — scale-benign);
- ``semi-join`` — hashpartitioning keyed on a doc id: the MinHash
                  verify path's candidate semi-join, runtime-mitigated
                  by AQE broadcast conversion + default-on bloom
                  filters (SCALE.md §"Exchange-width audit");
- anything else — FLAGGED. A new text-carrying exchange outside the
                  two documented classes is a scale regression; the
                  tool exits 1.

``embedding`` (256 B/row) hits are reported informationally — the
similarity family legitimately shuffles vectors into its buckets.

Usage: python tools/exchange_audit.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"


def _exchanges(plan: str):
    """Yield (node_id, input_cols, arguments) for every shuffle
    Exchange. The node detail runs from its header to the next
    '(N) <Op>' header — no fixed-width window, so arbitrarily wide
    Input lists still parse (review finding: a 600-char slice
    silently dropped >35-column exchanges)."""
    headers = [(m.start(), m.group(1)) for m in re.finditer(r"\((\d+)\) [A-Z]", plan)]
    for i, (pos, nid) in enumerate(headers):
        if not plan.startswith(f"({nid}) Exchange", pos):
            continue
        end = headers[i + 1][0] if i + 1 < len(headers) else len(plan)
        seg = plan[pos:end]
        inp = re.search(r"Input \[\d+\]: \[([^\]]*)\]", seg)
        arg = re.search(r"Arguments: ([^\n]*)", seg)
        if inp and arg:
            yield nid, inp.group(1), arg.group(1)


def _consuming_join(plan: str, nid: str) -> str | None:
    """Walk the plan TREE upward from exchange `nid` to the nearest
    ancestor join operator; return its line (e.g. 'SortMergeJoin
    LeftSemi (22)') or None. Ancestor = the closest preceding tree
    line with strictly smaller indentation."""
    tree = plan.split("\n\n", 1)[0].splitlines()
    target = next((i for i, ln in enumerate(tree) if f"({nid})" in ln), None)
    if target is None:
        return None
    def indent(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-"))
    cur = indent(tree[target])
    for ln in reversed(tree[:target]):
        ind = indent(ln)
        if ind < cur:
            cur = ind
            if "Join" in ln:
                return ln.strip()
    return None


def classify(plan: str, nid: str, args: str) -> str:
    """A text-carrying exchange is benign ONLY as (a) the gated
    single-file round-robin spread, or (b) the input of a LeftSemi
    join — the candidate-prune shape, where text IS the payload being
    pruned and the runtime bloom filter keeps the shuffle volume at
    the match rate. Feeding any other join (or operator) means text
    could have been projected below the exchange — the round-6
    regression class — so it is flagged. (Review finding: a
    doc-id-key allowlist would have passed the exact join-first
    pipeline shape the audit was built to reject.)"""
    if "RoundRobinPartitioning" in args and "REPARTITION_BY_NUM" in args:
        return "guard"
    join = _consuming_join(plan, nid)
    if join is not None and "LeftSemi" in join:
        return "semi-join"
    return "FLAGGED"


def main() -> int:
    from mit6_5840_6_824_lab1_mapreduce_spark.queries import REGISTRY
    from mit6_5840_6_824_lab1_mapreduce_spark.session import get_spark

    spark = get_spark(app_name="exchange-audit", master="local[4]", shuffle_partitions=8)
    # Render the WORST-CASE plan: auto-broadcast off, so a join whose
    # small side happens to broadcast at sf0.01 shows the shuffle it
    # would pay at 100 TB (review finding: default thresholds let
    # scale-dependent text shuffles hide behind BroadcastHashJoin).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    counts = {"guard": 0, "semi-join": 0, "FLAGGED": 0, "embedding": 0}
    flagged: list[tuple[str, str, str, str]] = []
    for name, entry in REGISTRY.items():
        plan = entry.fn(spark, SF)._jdf.queryExecution().explainString(mode)
        for nid, cols, args in _exchanges(plan):
            if re.search(r"\btext#", cols):
                cls = classify(plan, nid, args)
                counts[cls] += 1
                if cls == "FLAGGED":
                    flagged.append((name, nid, cols[:100], args[:100]))
            elif re.search(r"\bembedding#", cols):
                counts["embedding"] += 1
    print(
        f"==== EXCHANGE AUDIT: {len(REGISTRY)} queries — text exchanges: "
        f"{counts['guard']} guard, {counts['semi-join']} semi-join, "
        f"{counts['FLAGGED']} FLAGGED; embedding exchanges (info): "
        f"{counts['embedding']} ===="
    )
    for name, nid, cols, args in flagged:
        print(f"[FLAGGED] {name} node {nid}: [{cols}] {args}")
    spark.stop()
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
