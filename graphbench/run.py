"""The repository's benchmark: one workload against a fresh engine process.

    python3 graphbench/run.py --workload bolt_read --seed 1 --seconds 12 --trace 0

Starts the engine in a child process, warms it in blocks until its last few
blocks agree, measures a window, checks every answer, and
prints the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``) as the last line of standard output, one JSON object.
Lines before it, each starting with ``#``, describe the run: the warm-up
blocks, the tail percentile, the Little's-law check.

``--repeat`` runs one untraced and two traced runs of one seed instead, and
lists every deterministic counter that differs between the traced runs and
every end-to-end metric untraced vs traced (the tracing overhead).

Workloads, metrics and bounds are described in ``BENCHMARK.json`` at the
root of the repository.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import queue
import signal
import statistics
import subprocess
import sys
import threading
import time
from collections import Counter, defaultdict
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import graph_data  # noqa: E402
import stats  # noqa: E402
from workloads import SHAPES, WORKLOADS, BoltRead, WriteGds  # noqa: E402

WORK_DIR = os.path.join(ROOT, ".bench_build", "graphbench")
RUN_LIMIT_S = 150  # a run must end within 180 s, stopping the engine included
READY_TIMEOUT_S = 120
OP_TIMEOUT_S = 60

# Warm-up: a cold block, then at least ``warm_min`` warm blocks, then more
# until the mean latencies of the last ``last`` warm blocks lie within
# ``tol`` of their median, up to ``warm_max`` warm blocks; a run that hits
# the cap says so. Per workload: operations per client in the cold block
# (the clients take turns, so no first statement races another) and in
# each warm block, the warm-up rule, and the operations per client of a
# traced window (a fixed count, so that two traced runs do the same work).
# ``jit``: the engine's JIT flags, chosen per workload for the shortest
# warm-up (see DESIGN.md).
PLAN = {
    "bolt_read": {"cold": 4, "block": 8, "warm_min": 3, "warm_max": 5, "last": 3, "tol": 0.05,
                  "traced": 24, "jit": "-XX:TieredStopAtLevel=1"},
    "write_gds": {"cold": 1, "block": 1, "warm_min": 3, "warm_max": 5, "last": 2, "tol": 0.05,
                  "traced": 3, "jit": ""},
}
LITTLE_TOL = 0.10

# Counters that must repeat exactly between two traced runs of one seed.
DETERMINISTIC = [
    "spark.exec.jobs", "spark.exec.stages", "spark.exec.tasks", "spark.codegen.compiles",
    "operators.checkpoints", "operators.pinned_rdds", "storage.swaps",
    "storage.plan_lines", "bolt.records",
]
PER_LAYER = [
    ("bolt.self_ms", "ms"), ("bolt.pack_ms", "ms"), ("bolt.records", "count"),
    ("bolt.bytes", "bytes"), ("cypher.run_ms", "ms"),
    ("spark.plan.analysis_ms", "ms"), ("spark.plan.optimization_ms", "ms"),
    ("spark.plan.planning_ms", "ms"),
    ("spark.codegen.compiles", "count"), ("spark.codegen.compile_ms", "ms"),
    ("spark.exec.jobs", "count"), ("spark.exec.stages", "count"), ("spark.exec.tasks", "count"),
    ("spark.exec.run_ms", "ms"), ("spark.exec.cpu_ms", "ms"), ("spark.exec.sched_wait_ms", "ms"),
    ("spark.exec.shuffle_read_bytes", "bytes"), ("spark.exec.shuffle_write_bytes", "bytes"),
    ("storage.write_ms", "ms"), ("storage.swaps", "count"), ("storage.compactions", "count"),
    ("storage.plan_lines", "count"),
    ("operators.wcc_ms", "ms"), ("operators.checkpoints", "count"),
    ("operators.pinned_rdds", "count"),
    ("session.spark_start_s", "s"), ("sources.load_tables_s", "s"), ("sources.build_graph_s", "s"),
]
END_TO_END = [
    ("setup_s", "s"), ("cold_s", "s"), ("ops_per_s", "1/s"), ("p50_ms", "ms"),
    ("peak_rss_mb", "MB"),
]


class BenchError(Exception):
    """The run cannot produce a trustworthy result."""


def note(msg: str) -> None:
    print(f"# {msg}", flush=True)


# -- the engine process --------------------------------------------------------

def _proc_stat(pid: str):
    """(session id, resident bytes) of a live process; None once it ended
    (gone, or a zombie waiting to be reaped)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    if rest[0] in ("Z", "X"):
        return None
    return int(rest[3]), int(rest[21]) * os.sysconf("SC_PAGE_SIZE")


def session_members(sid: int) -> dict[int, int]:
    """pid -> resident bytes of every live process in session ``sid``."""
    out = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _proc_stat(pid)
            if st and st[0] == sid:
                out[int(pid)] = st[1]
    return out


class Engine:
    """The engine child, its own session leader, so that it and the JVM it
    starts can be measured and stopped as one process tree."""

    def __init__(self, cfg: dict):
        env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
        env.update({"TMPDIR": os.path.join(WORK_DIR, "tmp"),
                    "SPARK_LOCAL_DIRS": os.path.join(WORK_DIR, "spark-local")})
        self.log = open(os.path.join(WORK_DIR, f"engine-{cfg['workload']}.log"), "w")
        self.t_spawn = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "engine.py"), json.dumps(cfg)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            cwd=WORK_DIR, env=env, text=True, start_new_session=True,
        )
        self.peak_rss = 0
        self._lines: queue.Queue = queue.Queue()
        self._stop = threading.Event()
        threading.Thread(target=self._read, daemon=True).start()
        self._monitor = threading.Thread(target=self._watch_rss, daemon=True)
        self._monitor.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            self._lines.put(line)
        self._lines.put(None)

    def _watch_rss(self) -> None:
        while not self._stop.is_set():
            self.peak_rss = max(self.peak_rss, sum(session_members(self.proc.pid).values()))
            self._stop.wait(0.2)

    def recv(self, timeout: float) -> dict:
        try:
            line = self._lines.get(timeout=timeout)
        except queue.Empty:
            raise BenchError(f"engine gave no reply within {timeout:.0f} s") from None
        if line is None:
            raise BenchError(f"engine exited with code {self.proc.wait()}; see {self.log.name}")
        return json.loads(line)

    def request(self, msg: dict, timeout: float = OP_TIMEOUT_S) -> dict:
        self.proc.stdin.write(json.dumps(msg) + "\n")
        self.proc.stdin.flush()
        return self.recv(timeout)

    def close(self) -> None:
        """Stop the engine and wait until every process of its tree ended."""
        if self.proc.poll() is None:
            try:
                self.request({"cmd": "exit"}, timeout=15)
                self.proc.wait(timeout=5)
            except (BenchError, OSError, subprocess.TimeoutExpired):
                pass
        self._stop.set()
        self._monitor.join()
        deadline = time.monotonic() + 10
        while (members := session_members(self.proc.pid)) and time.monotonic() < deadline:
            for pid in members:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.1)
        self.proc.wait()
        self.log.close()
        if members:
            raise BenchError(f"engine processes {sorted(members)} did not end")


# -- callers: the clients of the closed loop -------------------------------------

class BoltCaller:
    """One Bolt connection; counts the bytes and records it receives."""

    def __init__(self, port: int):
        from docker_neo4j_spark.bolt.client import BoltClient

        class Counting(BoltClient):
            bytes_in = 0

            def _recv_exact(self, n):
                data = super()._recv_exact(n)
                self.bytes_in += len(data)
                return data

        self.client = Counting(port, timeout=OP_TIMEOUT_S)
        self.client.hello()

    def call(self, op):
        text, params = BoltRead.statement(op)
        b0 = self.client.bytes_in
        t0 = time.perf_counter()
        _, rows = self.client.run(text, params)
        return time.perf_counter() - t0, rows, self.client.bytes_in - b0

    def close(self) -> None:
        self.client.close()


class EngineCaller:
    """The in-process caller: the engine runs the operation and times it."""

    def __init__(self, engine: Engine):
        self.engine = engine

    def call(self, op):
        reply = self.engine.request({"cmd": "op", "op": op})
        if not reply["ok"]:
            raise RuntimeError(reply["error"])
        return reply["latency_s"], {"parts_s": reply["parts_s"], **reply["answers"]}, 0

    def close(self) -> None:
        pass


@dataclass
class Sample:
    op: object
    end: float
    latency: float
    answer: object
    nbytes: int
    error: str | None


def run_phase(callers, streams, per_client=None, deadline=None, serial=False):
    """Closed loop: each caller sends its next operation when the previous
    one completed, ``per_client`` times or until ``deadline``; with
    ``serial`` the callers take turns instead of running at once. Returns
    the samples, the time the phase opened and the time its last operation
    completed."""
    samples: list[Sample] = []
    lock = threading.Lock()

    def client(i: int) -> None:
        n = 0
        while (per_client is None or n < per_client) and (
            deadline is None or time.perf_counter() < deadline
        ):
            op = next(streams[i])
            t0 = time.perf_counter()
            try:
                lat, ans, nbytes = callers[i].call(op)
                err = None
            except Exception as exc:  # noqa: BLE001 - a failed op counts as failed
                lat, ans, nbytes, err = time.perf_counter() - t0, None, 0, repr(exc)[:300]
            with lock:
                samples.append(Sample(op, time.perf_counter(), lat, ans, nbytes, err))
            n += 1

    t_open = time.perf_counter()
    threads = [threading.Thread(target=client, args=(i,), daemon=True) for i in range(len(callers))]
    for t in threads:
        t.start()
        if serial:
            t.join()
    for t in threads:
        t.join()
    t_close = max((s.end for s in samples), default=t_open)
    return samples, t_open, t_close


# -- answers -------------------------------------------------------------------------

class Checker:
    """Expected answers for a workload and the comparison of each sample."""

    def __init__(self, workload, data_dir: str):
        import duckdb

        self.workload = workload
        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{os.path.join(WORK_DIR, 'tmp')}'")
        for t in graph_data.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        self.expected = workload.expected_answers(con)
        con.close()

    def ok(self, s: Sample) -> bool:
        if s.error is not None:
            return False
        if isinstance(self.workload, BoltRead):
            return stats.same_rows(s.answer, self.expected[s.op])
        want = WriteGds.flow_expected(s.op)
        flow = s.answer["flow"]
        if len(flow) != len(want) or not all(
            e is None or stats.same_rows(a, e) for a, e in zip(flow, want)
        ):
            return False
        for row, got in s.answer["gds"].items():
            exp = self.expected[row]
            idx = [got["columns"].index(c) for c in exp["columns"]]
            if not stats.same_rows([[r[i] for i in idx] for r in got["rows"]], exp["rows"]):
                return False
        return True


# -- one run -------------------------------------------------------------------------

def run_once(name: str, seed: int, seconds: int, trace: bool) -> dict:
    """One run of one workload; returns the metrics and what the run saw."""
    os.makedirs(os.path.join(WORK_DIR, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(WORK_DIR, "spark-local"), exist_ok=True)
    data_dir = graph_data.ensure(WORK_DIR)
    workload = WORKLOADS[name](seed)
    checker = Checker(workload, data_dir)
    plan = PLAN[name]
    cpus = len(os.sched_getaffinity(0))
    engine = Engine({"workload": name, "data_dir": data_dir, "work_dir": WORK_DIR,
                     "root": ROOT, "cpus": cpus, "trace": trace, "jit": plan["jit"]})
    callers = []
    try:
        ready = engine.recv(READY_TIMEOUT_S)
        setup_s = time.perf_counter() - engine.t_spawn
        if name == "bolt_read":
            callers = [BoltCaller(ready["port"]) for _ in range(workload.clients)]
        else:
            callers = [EngineCaller(engine)]
        warm = [workload.stream(i, "warm") for i in range(workload.clients)]
        window = [workload.stream(i, "window") for i in range(workload.clients)]

        # warm-up: a cold block, then warm blocks until the last few agree
        blocks, all_samples = [], []
        while True:
            if blocks:
                samples, t0, t1 = run_phase(callers, warm, per_client=plan["block"])
            else:
                samples, t0, t1 = run_phase(callers, warm, per_client=plan["cold"], serial=True)
            all_samples += samples
            blocks.append((t1 - t0, statistics.fmean(s.latency for s in samples)))
            n_warm = len(blocks) - 1
            converged = stats.converged([m for _, m in blocks], plan["tol"], plan["last"])
            if (converged and n_warm >= plan["warm_min"]) or n_warm >= plan["warm_max"]:
                break
        cold_s = blocks[0][0]

        if trace:
            engine.request({"cmd": "mark"})
            samples, t_open, t_close = run_phase(callers, window, per_client=plan["traced"])
            report = engine.request({"cmd": "report"}, timeout=120)
        else:
            samples, t_open, t_close = run_phase(
                callers, window, deadline=time.perf_counter() + seconds)
            report = None
    finally:
        for c in callers:
            c.close()
        engine.close()

    warm_bad = sum(not checker.ok(s) for s in all_samples)
    good = [s for s in samples if checker.ok(s)]
    span = t_close - t_open
    lat = [s.latency for s in good]
    if not lat:
        raise BenchError("no operation in the measured window answered correctly")
    ops_per_s = len(good) / span
    little = stats.littles_law_error(
        len(callers), len(samples) / span, statistics.fmean(s.latency for s in samples))
    if little > LITTLE_TOL:
        raise BenchError(
            f"Little's law fails on {name}: {len(callers)} clients, {len(samples) / span:.3f} "
            f"ops/s and a mean latency of {statistics.fmean(s.latency for s in samples):.3f} s "
            f"disagree by {little:.1%} > {LITTLE_TOL:.0%}")
    result = {
        "workload": name,
        "blocks": blocks,
        "converged": converged,
        "samples": samples,
        "warm_failed": warm_bad,
        "attempted": len(samples),
        "failed": len(samples) - len(good),
        "little": little,
        "tail": stats.tail(lat),
        "metrics": {
            "setup_s": setup_s,
            "cold_s": cold_s,
            "ops_per_s": ops_per_s,
            "p50_ms": stats.p50_by_shape([(workload.shape(s.op), s.latency) for s in good]) * 1e3,
            "peak_rss_mb": engine.peak_rss / 2**20,
            "ok_pct": 100.0 * len(good) / len(samples),
        },
    }
    if report is not None:
        result["layers"], result["per_stmt"] = layer_metrics(name, ready, report, samples)
    return result


def layer_metrics(name: str, ready: dict, report: dict, samples: list[Sample]):
    """Per-operation layer metrics of a traced window, plus per-statement
    detail (shape or operation name -> averaged deterministic counters)."""
    stmts = report["stmts"]
    n = len(samples)
    if len(stmts) != n:
        raise BenchError(f"trace saw {len(stmts)} statements for {n} operations")
    tot = Counter()
    for st in stmts:
        tot.update(st["counts"])
        tot.update(st["ms"])
    cg = report["codegen"]
    tot["spark.codegen.compiles"] = cg["compiles"]
    tot["spark.codegen.compile_ms"] = cg["compiles"] * cg["mean_ms"]
    out = {k: tot.get(k, 0) / n for k, _ in PER_LAYER}
    if name == "bolt_read":
        out["bolt.records"] = sum(len(s.answer or []) for s in samples) / n
        out["bolt.bytes"] = sum(s.nbytes for s in samples) / n
        out["bolt.self_ms"] = (sum(s.latency for s in samples) * 1e3 - tot["server_ms"]) / n
        out.update(report["after"])
    for k in ("session.spark_start_s", "sources.load_tables_s", "sources.build_graph_s"):
        out[k] = ready[k]
    # deterministic counters per statement shape (bolt) or per operation
    shape_of = {text: label for label, text in SHAPES}
    per = defaultdict(Counter)
    for st in stmts:
        label = shape_of.get(st["text"], st["text"])
        per[label]["n"] += 1
        per[label].update({k: v for k, v in st["counts"].items() if k in DETERMINISTIC})
    for s in samples:
        if name == "bolt_read":
            per[SHAPES[s.op[0]][0]]["bolt.records"] += len(s.answer or [])
    per_stmt = {
        label: {k: v / c["n"] for k, v in c.items() if k != "n"} for label, c in per.items()
    }
    return out, per_stmt


# -- output ----------------------------------------------------------------------------

def describe(r: dict) -> None:
    blocks = ", ".join(f"{wall:.2f}s/{mean * 1e3:.0f}ms" for wall, mean in r["blocks"])
    note(f"{r['workload']}: warm-up {len(r['blocks'])} blocks (wall/mean latency): {blocks}")
    plan = PLAN[r["workload"]]
    note("warm-up converged" if r["converged"] else
         f"WARM-UP HIT THE CAP of {plan['warm_max']} warm blocks before the last "
         f"{plan['last']} lay within {plan['tol']:.0%} of their median")
    n = len(r["samples"])
    note(f"window: {n} operations, ok_pct {r['metrics']['ok_pct']:.1f} %, "
         f"{r['warm_failed']} failed during warm-up")
    if r["workload"] == "write_gds":
        parts = {k: statistics.median([s.answer["parts_s"][k] for s in r["samples"] if s.answer])
                 for k in ("write", "gds")}
        note("median per part: " + ", ".join(f"{k} {v * 1e3:.0f} ms" for k, v in parts.items()))
    if r["tail"]:
        pct, val, beyond = r["tail"]
        note(f"tail_ms: p{pct} = {val * 1e3:.1f} ms over {n} samples ({beyond} beyond)")
    else:
        note(f"tail_ms: omitted, {n} samples < {stats.TAIL_MIN_SAMPLES}")
    note(f"Little's law: clients vs ops_per_s x mean latency differ by {r['little']:.1%}")


def final_line(r: dict, trace: bool) -> str:
    if trace:
        metrics = {k: {"value": r["layers"][k], "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": r["metrics"][k], "unit": u} for k, u in END_TO_END}
    return json.dumps({
        "correct": r["failed"] == 0 and r["warm_failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": metrics,
    })


def repeat(name: str, seed: int, seconds: int) -> int:
    """Two traced runs of one seed: the deterministic counters must repeat
    exactly; one untraced run beside them gives the tracing overhead."""
    plain = run_once(name, seed, seconds, trace=False)
    traced = [run_once(name, seed, seconds, trace=True) for _ in range(2)]
    for r in (plain, *traced):
        describe(r)
    differ = []
    a, b = traced
    for k in DETERMINISTIC:
        if a["layers"].get(k) != b["layers"].get(k):
            differ.append((k, a["layers"].get(k), b["layers"].get(k)))
    for label in sorted(set(a["per_stmt"]) | set(b["per_stmt"])):
        ca, cb = a["per_stmt"].get(label, {}), b["per_stmt"].get(label, {})
        note(f"per-operation counters, {label[:40]}: {json.dumps(ca, sort_keys=True)}")
        for k in sorted(set(ca) | set(cb)):
            if ca.get(k) != cb.get(k):
                differ.append((f"{label[:40]}/{k}", ca.get(k), cb.get(k)))
    for k, x, y in differ:
        note(f"COUNTER DIFFERS: {k}: {x} vs {y}")
    if not differ:
        note(f"all {len(DETERMINISTIC)} deterministic counters repeat exactly")
    for k, u in END_TO_END:
        x, y = plain["metrics"][k], traced[0]["metrics"][k]
        note(f"overhead {k}: untraced {x:.4g} {u}, traced {y:.4g} {u} ({(y - x) / x:+.1%})")
    print(json.dumps({"workload": name, "seed": seed, "differs": differ}))
    return 1 if differ else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", action="store_true",
                    help="check that traced counters repeat and report tracing overhead")
    args = ap.parse_args(argv)
    if importlib.util.find_spec("docker_neo4j_spark") is None:
        print(f"the engine package docker_neo4j_spark is not under {ROOT}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _out_of_time)
    signal.alarm(RUN_LIMIT_S * (3 if args.repeat else 1))
    try:
        if args.repeat:
            return repeat(args.workload, args.seed, args.seconds)
        r = run_once(args.workload, args.seed, args.seconds, bool(args.trace))
        describe(r)
        print(final_line(r, bool(args.trace)))
        return 0
    except BenchError as exc:
        print(f"benchmark failed: {exc}", file=sys.stderr)
        return 1


def _out_of_time(signum, frame):
    raise BenchError("run exceeded its time limit")


if __name__ == "__main__":
    sys.exit(main())
