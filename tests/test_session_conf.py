"""The caller's session conf has one owner: ``session.get_spark`` sets it,
and no operator writes it while other queries may share the session."""

from __future__ import annotations

import ast
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from pyspark import RDD

import hadoop_2_7_1_spark
from hadoop_2_7_1_spark.queries import REGISTRY

from .conftest import SF_DIR, assert_frames_match

# (module path under the package, function) allowed to call conf.set: the
# session factory, and the graph helper that sets conf on its own private
# clone of the caller's session.
CONF_WRITERS = {("session.py", "get_spark"), ("operators/graph.py", "_rounds_session")}


def test_only_get_spark_and_the_graph_clone_write_conf():
    root = Path(hadoop_2_7_1_spark.__file__).parent
    stray = []
    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        if "conf.set(" not in src:
            continue
        rel = path.relative_to(root).as_posix()
        funcs = [
            n
            for n in ast.walk(ast.parse(src))
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for lineno, line in enumerate(src.splitlines(), 1):
            if "conf.set(" not in line:
                continue
            owners = {f.name for f in funcs if f.lineno <= lineno <= f.end_lineno}
            if not any((rel, name) in CONF_WRITERS for name in owners):
                stray.append(f"{rel}:{lineno}: {line.strip()}")
    assert not stray, "conf written outside its owners:\n" + "\n".join(stray)


def test_graph_rounds_leave_the_shared_session_conf_alone(spark, oracle):
    """grf_ppr compiles its rounds with AQE off and a derived partition
    count. While it runs on a worker thread, the shared session must keep
    reading its own settings, and a TPC-H query run on it meanwhile must
    still match its oracle (AQE does not change results, so only the poll
    can see a leaked setting). ``rdd.toDF()`` must still build frames in
    the session it built them in before."""
    to_df = RDD.toDF
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    seen = set()

    def run(name):
        return REGISTRY[name].fn(spark, SF_DIR).toPandas()

    with ThreadPoolExecutor(max_workers=2) as pool:
        graph = pool.submit(run, "grf_ppr")

        def poll():
            while not graph.done():
                seen.add(tuple(spark.conf.get(k) for k in keys))
                time.sleep(0.005)

        poller = pool.submit(poll)
        tpch = run("tq1_pricing_summary")
        ppr = graph.result(timeout=600)
        poller.result(timeout=60)

    assert seen == {("true", "32")}
    assert RDD.toDF is to_df
    for name, pdf in (("grf_ppr", ppr), ("tq1_pricing_summary", tpch)):
        assert_frames_match(pdf, oracle.sql(REGISTRY[name].oracle).df(), name)
