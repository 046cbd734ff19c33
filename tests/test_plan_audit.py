"""tools/plan_audit.audit on a fixed physical-plan string (no Spark session)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))

from plan_audit import audit  # noqa: E402

PLAN = """\
AdaptiveSparkPlan isFinalPlan=true
+- Window [rank(v#3) windowspecdefinition(v#3 ASC NULLS FIRST) AS r#9]
   +- Sort [v#3 ASC NULLS FIRST], false, 0
      +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=41]
         +- HashAggregate(keys=[v#3], functions=[count(1)])
            +- Exchange hashpartitioning(v#3, 32), ENSURE_REQUIREMENTS, [plan_id=37]
               +- BroadcastHashJoin [k#1], [k#5], Inner, BuildRight, false
                  :- FileScan parquet [k#1,v#3] PushedFilters: [IsNotNull(k)], ReadSchema: struct<k:bigint,v:double>
                  +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=33]
                     +- Window [sum(c#7) windowspecdefinition(c#7 ASC NULLS FIRST) AS s#8]
                        +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=30]
                           +- FileScan parquet [k#5,c#7] PushedFilters: [], ReadSchema: struct<k:bigint,c:bigint>
"""


def test_audit_counts_nodes_of_a_fixed_plan():
    a = audit(PLAN)
    assert a["single"] == 2
    assert a["shuffles"] == 1
    assert (a["broadcasts"], a["bhj"], a["smj"]) == (1, 1, 0)
    assert a["pushed"] == ["IsNotNull(k)", ""]
    assert a["schemas"] == ["struct<k:bigint,v:double>", "struct<k:bigint,c:bigint>"]
    assert not a["takeordered"] and a["python"] == 0


def test_audit_counts_a_reprinted_subtree_once():
    line = "+- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=41]\n"
    assert audit(line + line)["single"] == 1
