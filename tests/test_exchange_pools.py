"""The driver's exchange and subquery thread pools stay large enough for
plans that wait on themselves.

Spark runs shuffle stages, broadcasts, scalar subqueries and result stages
on four static pools (``spark.sql.{shuffleExchange, broadcastExchange,
subquery, resultQueryStage}.maxThreadThreshold``). A pool thread that
materializes a stage can block on a subquery, or a child stage, that needs
a thread of the same pool: capped below the plan's width, every thread
waits and the query never ends. Each shape here runs through ``get_spark``
in a child process with a timeout, and its answer is checked against a
pure-Python one; a hung child is killed with its JVM."""

from __future__ import annotations

import json
import math
import os
import signal
import subprocess
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: seconds for the child's launch and all shapes; they take about 10 s
TIMEOUT_S = 120
ROWS = 1000

CHILD = r"""
import json, sys
from steam_data_engineer_project_spark.session import get_spark

spark = get_spark("exchange-pools", extra_conf={"spark.driver.memory": "1g"})
spark.range(int(sys.argv[2])).selectExpr(
    "id AS v", "CAST(sqrt(id) AS INT) AS g"
).createOrReplaceTempView("t")
spark.range(64).selectExpr("id AS g", "id * 3 % 17 AS w").createOrReplaceTempView("dim")
print(json.dumps({name: [list(r) for r in spark.sql(sql).collect()]
                  for name, sql in json.loads(sys.argv[1]).items()}))
"""

#: rows of ``t`` per group ``g`` = floor(sqrt(v)), v < ROWS
SIZES = Counter(math.isqrt(v) for v in range(ROWS))
#: ``dim``: one weight per group
WEIGHTS = {g: g * 3 % 17 for g in range(64)}


def _union_of_subquery_aggregates(branches: int = 12) -> tuple[str, list]:
    """Shuffle stages that wait on a scalar subquery with its own shuffle:
    each branch groups the rows above an aggregate over one group."""
    sql, rows = [], []
    for i in range(branches):
        sql.append(f"SELECT {i} AS b, g, count(*) AS n FROM t "
                   f"WHERE v > (SELECT avg(v) FROM t WHERE g = {i}) GROUP BY g")
        members = [v for v in range(ROWS) if math.isqrt(v) == i]
        avg = sum(members) / len(members)
        counts = Counter(math.isqrt(v) for v in range(ROWS) if v > avg)
        rows += [[i, g, n] for g, n in counts.items()]
    return " UNION ALL ".join(sql), rows


def _union_of_nested_having(branches: int = 6, levels: int = 3) -> tuple[str, list]:
    """Subqueries, and their result stages, that wait on the subquery
    nested in their own ``HAVING``: each branch keeps the groups larger
    than the number of groups larger than ... the rows below ``v = 10 + i``."""
    sql, rows = [], []
    for i in range(branches):
        inner, bound = f"SELECT count(*) FROM t WHERE v < {10 + i}", 10 + i
        for _ in range(levels - 1):
            inner = (f"SELECT count(*) FROM (SELECT g FROM t GROUP BY g "
                     f"HAVING count(*) > ({inner}))")
            bound = sum(n > bound for n in SIZES.values())
        sql.append(f"SELECT {i} AS b, g, count(*) AS n FROM t GROUP BY g "
                   f"HAVING count(*) > ({inner})")
        rows += [[i, g, n] for g, n in SIZES.items() if n > bound]
    return " UNION ALL ".join(sql), rows


def _union_of_nested_broadcasts(branches: int = 12) -> tuple[str, list]:
    """Broadcasts whose build side filters on a scalar subquery that itself
    broadcasts: each branch joins ``t`` to the groups whose weight, times
    100, is under the rows of the groups weighing more than the branch."""
    sql, rows = [], []
    for i in range(branches):
        sub = (f"SELECT /*+ BROADCAST(d2) */ count(*) FROM t t2 JOIN dim d2 "
               f"ON t2.g = d2.g WHERE d2.w > {i}")
        sql.append(f"SELECT /*+ BROADCAST(d) */ {i} AS b, count(*) AS n FROM t JOIN "
                   f"(SELECT g FROM dim WHERE w * 100 < ({sub})) d ON t.g = d.g")
        heavy = sum(n for g, n in SIZES.items() if WEIGHTS[g] > i)
        rows.append([i, sum(n for g, n in SIZES.items() if WEIGHTS[g] * 100 < heavy)])
    return " UNION ALL ".join(sql), rows


def test_plans_that_wait_on_their_own_pools_finish():
    """Three shapes whose pool threads wait on work of the same pool
    answer within the timeout, each equal to its pure-Python answer.
    Each hangs under a cap its pool would get from sizing it to the
    local master: ``shuffleExchange`` or ``broadcastExchange`` at 8 (12
    branches at once), ``subquery`` at 8 (6 branches of 3 nested levels)
    or ``resultQueryStage`` at 1."""
    shapes = {
        "union_of_subquery_aggregates": _union_of_subquery_aggregates(),
        "union_of_nested_having": _union_of_nested_having(),
        "union_of_nested_broadcasts": _union_of_nested_broadcasts(),
    }
    env = dict(os.environ,
               PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    child = subprocess.Popen(
        [sys.executable, "-c", CHILD, json.dumps({k: sql for k, (sql, _) in shapes.items()}),
         str(ROWS)],
        cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        # its own process group, so a hung JVM goes with it
        start_new_session=True,
    )
    try:
        out, err = child.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(child.pid, signal.SIGKILL)
        child.communicate()
        raise AssertionError(f"the shapes did not finish in {TIMEOUT_S} s") from None
    assert child.returncode == 0, err[-3000:]
    answers = json.loads(out.splitlines()[-1])
    for name, (_, expected) in shapes.items():
        assert sorted(answers[name]) == sorted(expected), name
