"""The engine process: one fresh Spark session serving one workload.

Started by ``run.py`` as ``python3 engine.py '<json config>'``. It sets the
engine up (Spark, the table load, the graph build and, for ``bolt_read``,
the Bolt server), reports ready, then answers one JSON command per line on
stdin with one JSON reply per line on its protocol stream:

- ``{"cmd": "op", "op": ...}`` runs one in-process operation and replies
  with its latency and answers;
- ``{"cmd": "mark"}`` / ``{"cmd": "report"}`` open a traced window and
  return its per-statement layer totals (traced mode only);
- ``{"cmd": "exit"}`` stops the engine.
"""

from __future__ import annotations

import json
import os
import sys
import time


def _reply(out, obj) -> None:
    out.write(json.dumps(obj) + "\n")
    out.flush()


def main() -> int:
    cfg = json.loads(sys.argv[1])
    # The protocol owns the original stdout; anything else printed goes to
    # stderr (the engine log), so stray output cannot corrupt a reply.
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.path.insert(0, cfg["root"])

    t0 = time.perf_counter()
    from docker_neo4j_spark import get_spark
    from docker_neo4j_spark.sources.tpch import build_graph, load_tables

    work = cfg["work_dir"]
    # A fixed 2 GiB heap (initial = max): the JVM's adaptive heap growth
    # otherwise sets both the resident set and steps in latency, and they
    # differ from run to run. The graph needs a fraction of it.
    # cfg["jit"]: the JIT flags of the workload, chosen for a short warm-up
    # (see DESIGN.md).
    conf = {
        "spark.sql.shuffle.partitions": str(max(cfg["cpus"], 8)),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions":
            f"-Xms2g {cfg['jit']} -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if cfg["trace"]:
        # the per-statement job/stage statistics must outlive the window
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark = get_spark(app_name="graphbench", master=f"local[{cfg['cpus']}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    load_tables(spark, cfg["data_dir"])
    t2 = time.perf_counter()
    graph = build_graph(spark, cfg["data_dir"])
    t3 = time.perf_counter()

    tracer = None
    if cfg["trace"]:
        from spans import Tracer

        tracer = Tracer(spark)
        tracer.install()

    workload = cfg["workload"]
    server = None
    if workload == "bolt_read":
        from docker_neo4j_spark.bolt.server import BoltServer
        from docker_neo4j_spark.cypher.session import Session
        from docker_neo4j_spark.storage.store import GraphStore

        store = GraphStore(spark, graph)
        server = BoltServer(Session(spark, store=store)).start()
        run_op = None
    else:
        run_op = _write_gds(spark, graph, cfg["data_dir"], tracer)

    _reply(out, {
        "ready": True,
        "port": server.port if server else None,
        "session.spark_start_s": t1 - t0,
        "sources.load_tables_s": t2 - t1,
        "sources.build_graph_s": t3 - t2,
    })
    for line in sys.stdin:
        msg = json.loads(line)
        cmd = msg["cmd"]
        if cmd == "op":
            try:
                _reply(out, {"ok": True, **run_op(msg["op"])})
            except Exception as exc:  # noqa: BLE001 - a failed op is a result
                _reply(out, {"ok": False, "error": f"{type(exc).__name__}: {exc}"[:500]})
        elif cmd == "mark":
            tracer.mark()
            _reply(out, {})
        elif cmd == "report":
            rep = tracer.report()
            if workload == "bolt_read":
                rep["after"] = _store_counts(spark, store)
            _reply(out, rep)
        elif cmd == "exit":
            break
    if server:
        server.stop()
    spark.stop()
    _reply(out, {"bye": True})
    return 0


def _store_counts(spark, store) -> dict:
    """State counters read after an operation: logical plan lines of the
    store's node and rel frames, and persistent RDDs still pinned."""
    lines = 0
    if store is not None:
        for df in (store.graph.nodes, store.graph.rels):
            lines += len(df._jdf.queryExecution().logical().toString().splitlines())
    return {
        "storage.plan_lines": lines,
        "operators.pinned_rdds": spark.sparkContext._jsc.getPersistentRDDs().size(),
    }


def _write_gds(spark, graph, data_dir, tracer):
    """One operation: a fresh store and the flow, then the GDS pass."""
    from contextlib import nullcontext

    from docker_neo4j_spark.catalog import QUERIES, gds_queries  # noqa: F401
    from docker_neo4j_spark.cypher.session import Session
    from docker_neo4j_spark.storage.store import GraphStore
    from workloads import FLOW, GDS_ROWS

    def span(name):
        return tracer.span(name) if tracer else nullcontext()

    def run_op(params):
        with tracer.statement("write_gds") if tracer else nullcontext() as stmt:
            t0 = time.perf_counter()
            store = GraphStore(spark, graph)
            session = Session(spark, store=store)
            flow = [[list(r) for r in session.run(text, params).collect()] for text in FLOW]
            t1 = time.perf_counter()
            spark.catalog.clearCache()
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist()
            gds = {}
            for row, kernel in GDS_ROWS:
                with span(f"gds.{kernel}"):
                    df = QUERIES[row](spark, data_dir)
                    gds[row] = {"columns": df.columns, "rows": [list(r) for r in df.collect()]}
            t2 = time.perf_counter()
        if tracer:
            stmt["counts"].update(_store_counts(spark, store))
        return {"latency_s": t2 - t0, "parts_s": {"write": t1 - t0, "gds": t2 - t1},
                "answers": {"flow": flow, "gds": gds}}

    return run_op


if __name__ == "__main__":
    sys.exit(main())
