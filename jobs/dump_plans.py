#!/usr/bin/env python
"""Dump .explain('formatted') for every declared query to a directory.

Usage: python jobs/dump_plans.py OUT_DIR [suffix] [only,names]

Writes OUT_DIR/<query><suffix>.txt. Building a query's DataFrame may run
bounded driver collects (observer tables, probes) and the streaming gates
drain their streams at build time — that is part of the declared query and
is reflected in the captured final plan.

The text is normalized so two trees' dumps diff cleanly: every expression
id (``#12``), ``plan_id``, RDD id (``MapPartitionsRDD[858]``) and JVM
byte-array identity (``[B@25b0ba9b``) becomes ``N``, and the Python
function name of each MapInPandas / FlatMapGroupsInPandas node becomes
``<udf>``. A diff that is empty after normalization means the plans differ
at most in those names and ids.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from geotrellis_contrib_spark import derive  # noqa: E402
from geotrellis_contrib_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))

_PANDAS_NODE = re.compile(r"^\(\d+\) (MapInPandas|FlatMapGroupsInPandas)$")
_UDF_CALL = re.compile(r"\b\w+(?=\([^()]*\)#\d+)")


def normalize(txt: str) -> str:
    """Plan text with its session-dependent ids and the pandas nodes' UDF
    names replaced by placeholders."""
    out, node = [], ""
    for line in txt.splitlines(keepends=True):
        if line.startswith("("):
            node = line.strip()
        if line.startswith("Arguments:") and _PANDAS_NODE.match(node):
            line = _UDF_CALL.sub("<udf>", line)
        out.append(line)
    txt = re.sub(r"#\d+", "#N", "".join(out))
    txt = re.sub(r"plan_id=\d+", "plan_id=N", txt)
    txt = re.sub(r"RDD\[\d+\]", "RDD[N]", txt)
    return re.sub(r"\[B@[0-9a-f]+", "[B@N", txt)


def main() -> None:
    out_dir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else ""
    only = sys.argv[3].split(",") if len(sys.argv) > 3 else None
    os.makedirs(out_dir, exist_ok=True)
    spark = get_session(app_name="dump_plans", cores=CPUS)
    derive.register_views(spark, SF_DIR)
    qs = entrymod.queries()
    names = only or list(qs)
    for name in names:
        try:
            df = qs[name](spark, SF_DIR)
            txt = normalize(spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        except Exception as exc:  # noqa: BLE001 - record, keep dumping
            txt = f"PLAN CAPTURE FAILED: {exc!r}\n"
        with open(os.path.join(out_dir, f"{name}{suffix}.txt"), "w") as fh:
            fh.write(txt)
        print(name, "ok" if not txt.startswith("PLAN CAPTURE") else "FAIL")
    spark.stop()


if __name__ == "__main__":
    main()
