#!/usr/bin/env python3
"""Run one benchmark workload end to end and print its metrics.

    python3 perfbench/run.py --workload matmul --seed 1 --seconds 12 --trace 0

One process per run: one SparkSession on local[<cpus>] built once through
``session.get_spark`` (shuffle partitions fixed at build time, no
``spark.conf.set`` afterwards), one client thread in a closed loop. A pass
runs the workload's ops in order; an op is one call into a public operator
or registry query, then a noop write of the returned DataFrame.

Phases: seeded inputs (built three times, median kept) -> session ->
operands -> a warm-up pass whose results feed the correctness check and a
second, noop-forced warm-up pass -> [setup_s ends] -> correctness check ->
timed passes for ``--seconds`` (at least MIN_PASSES) -> status-store read
-> shutdown.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` additionally
installs the planner/memo wrappers and a streaming listener, reads the
per-op ledger from Spark's REST API and ``/proc``, writes spans and the
exact count table to ``perfbench/out/``, and prints the per-layer metrics.
The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import inputs  # noqa: E402
import ledger  # noqa: E402
import stats  # noqa: E402
from workloads import PKG, WORKLOADS, OPERANDS  # noqa: E402

MIN_PASSES = 2
INPUT_BUILDS = 3
OUT_DIR = os.path.join(HERE, "out")

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_geomean_s": "s",
    "cpu_s": "s",
    "shuffle_mb": "MB",
    "peak_rss_mb": "MB",
}

# per-layer metric -> unit; each is summed over the ops of a pass, and the
# median over timed passes is reported (see Run.layer_metrics for the
# few that are levels or ratios instead of sums). Times that read zero by
# construction on a workload (Python worker time on loops, worker start
# and shuffle fetch wait on one local executor) stay in the per-op
# records only; the Python share of executor task time stands in for them.
PER_LAYER = {
    "session.start_s": "s",
    "sources.input_build_s": "s",
    "sources.input_mb": "MB",
    "operators.call_s": "s",
    "operators.action_s": "s",
    "operators.eager_jobs": "count",
    "driver.gap_s": "s",
    "driver.gap_share": "ratio",
    "sched.jobs": "count",
    "sched.stages": "count",
    "sched.stages_skipped": "count",
    "sched.tasks": "count",
    "sched.critical_path_s": "s",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.deser_s": "s",
    "exec.gc_s": "s",
    "exec.straggler_ratio": "ratio",
    "python.run_share": "ratio",
    "python.sent_mb": "MB",
    "python.returned_mb": "MB",
    "python.rows_out": "count",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "shuffle.write_s": "s",
    "shuffle.spill_mb": "MB",
    "storage.cached_mb": "MB",
    "plans.decisions": "count",
    "memo.calls": "count",
    "memo.misses": "count",
    "streaming.batches": "count",
    "streaming.state_rows": "count",
    "proc.driver_cpu_s": "s",
    "proc.jvm_cpu_s": "s",
    "proc.jvm_hwm_mb": "MB",
    "proc.python_hwm_mb": "MB",
    "gflops": "GFLOP/s",
    "trace.pass_s": "s",
}

# counts that must repeat exactly between runs of the same code and seed
COUNT_FIELDS = (
    "sched.jobs",
    "sched.stages",
    "sched.stages_skipped",
    "sched.tasks",
    "operators.eager_jobs",
    "shuffle.bytes",
    "python.rows_out",
    "memo.misses",
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=12.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Run:
    def __init__(self, args, start_wall):
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.traced = bool(args.trace)
        self.start_wall = start_wall
        self.cpus = len(os.sched_getaffinity(0))
        self.work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
        self.sf_dir = os.path.join(self.work, "sf")
        self.samples = []  # one record per op execution
        self.passes = []  # (t0, t1, cpu_before, cpu_after) per timed pass
        self.failures = []  # (op, pass, reason)
        self.attempted = 0
        self.layer_setup = {}
        self.stream_events = []
        self.operands = {}
        self.phases = {}
        self.sentinel = {"start": ledger.cpu_sentinel()}

    def mark(self, name):
        """Seconds since process start at which phase ``name`` ended."""
        self.phases[name] = time.time() - self.start_wall

    # ------------------------------------------------------------ setup

    def isolate(self):
        """Keep every file Spark and Python write inside the run's work dir."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        import tempfile

        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["MMBD_SHUFFLE_PARTITIONS"] = str(self.cpus)
        sys.path.insert(0, ROOT)

    def build_inputs(self):
        # matmul reads the committed lineitem; its seed is the operand shift
        relabel_seed = 0 if self.workload.name == "matmul" else self.args.seed
        times = []
        for _ in range(INPUT_BUILDS):
            t = time.time()
            inputs.build_seeded_copy(relabel_seed, self.sf_dir)
            times.append(time.time() - t)
        self.input_build_times = times

    def start_session(self):
        session = __import__(f"{PKG}.session", fromlist=["get_spark"])
        t = time.time()
        tmp = os.environ["TMPDIR"]
        self.spark = session.get_spark(
            "perfbench",
            cpus=self.cpus,
            extra_conf={
                "spark.driver.memory": "1g",
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # -XX:-UsePerfData: no hsperfdata file outside the work dir
                "spark.driver.extraJavaOptions": f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
                "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
            },
        )
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.layer_setup["session.start_s"] = time.time() - t
        self.jvm_proc = self.sc._gateway.proc
        self.rest = ledger.Rest(self.sc)
        self.tree = ledger.ProcessTree(self.jvm_proc.pid)
        self.registry = __import__(f"{PKG}.registry", fromlist=["REGISTRY"])
        self.registry._load_all()

    def build_operands(self):
        t = time.time()
        shift = inputs.matmul_shift(self.args.seed)
        cached = {}  # (n, offset) -> cached operand
        for name, (n, off, mod) in OPERANDS.items():
            if mod is None:
                m = cached[(n, off)] = inputs.mat_from_lineitem(self.spark, self.sf_dir, n, shift + off).cache()
                m.count()
            else:
                m = cached[(n, off)].where(f"(i * {n} + j) % {mod} = 0")
            self.operands[name] = m
        self.layer_setup["sources.operand_build_s"] = time.time() - t

    def install_tracing(self):
        self.hooks = ledger.Hooks()
        if not self.traced:
            return
        self.hooks.install(PKG)
        self.listener = ledger.streaming_listener(self.stream_events)
        self.spark.streams.addListener(self.listener)

    # ------------------------------------------------------------ ops

    def run_op(self, op, pass_no, force):
        """Run one op; returns its forced result for a check pass."""
        if op.before is not None:
            op.before(self)
        rec = {"op": op.name, "pass": pass_no}
        self.hooks.current = rec
        self.attempted += 1
        result = None
        t0 = time.time()
        t1 = None
        try:
            df = op.call(self)
            t1 = time.time()
            if force == "noop":
                df.write.format("noop").mode("overwrite").save()
            elif op.kind == "matmul":
                from pyspark.sql import functions as F

                r = df.agg(
                    F.count(F.lit(1)),
                    F.sum("v"),
                    F.sum(F.col("i") * F.col("v")),
                    F.sum(F.col("j") * F.col("v")),
                ).first()
                result = {"nnz": r[0], "sum_v": r[1] or 0.0, "sum_iv": r[2] or 0.0, "sum_jv": r[3] or 0.0}
            else:
                result = ([tuple(r) for r in df.collect()], list(df.columns))
        except Exception as exc:  # an op failure is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
            self.failures.append((op.name, pass_no, rec["error"]))
        finally:
            self.hooks.current = None
        t2 = time.time()
        rec.update(t0=t0, t1=t1 if t1 is not None else t2, t2=t2)
        if self.traced:
            rec["storage.cached_mb"] = self.rest.cached_mb()
        self.samples.append(rec)
        return result

    def warmup(self):
        """Two untimed passes: the first forces each op the way the check
        needs (its results are kept), the second the way timed passes do."""
        self.warm = {}
        for op in self.workload.ops:
            self.warm[op.name] = self.run_op(op, 0, "check")
        self.mark("warmup_check")
        for op in self.workload.ops:
            self.run_op(op, 0, "noop")

    def timed_passes(self):
        """At least MIN_PASSES passes, then more while the next one, as long
        as the median pass so far, still ends within ``--seconds``."""
        start = time.time()
        n = 0
        while n < MIN_PASSES or (
            time.time() - start + stats.median(t1 - t0 for t0, t1, _, _ in self.passes) <= self.args.seconds
        ):
            n += 1
            cpu0 = self.tree.cpu()
            t0 = time.time()
            for op in self.workload.ops:
                self.run_op(op, n, "noop")
            t1 = time.time()
            self.passes.append((t0, t1, cpu0, self.tree.cpu()))

    # ------------------------------------------------------------ checks

    def check_results(self):
        """Compare the warm-up pass results with their references."""
        self.oracles = {}
        if self.workload.name == "matmul":
            refs = self.matmul_references()
            for op in self.workload.ops:
                res = self.warm.get(op.name)
                msg = res is not None and check.checksum_matches(res, refs[op.name]["checksum"])
                if msg:
                    self.failures.append((op.name, 0, f"check: {msg}"))
            return
        self.oracles = oracles = self.registry.oracles(self.sf_dir)
        jobs = {
            op.name: (check.oracle_key(op.query, oracles[op.query]), (oracles[op.query], self.sf_dir, inputs.TABLES))
            for op in self.workload.ops
            if op.query in oracles
        }
        refs = check.Cache(self.workload.name, self.args.seed).fill(check.oracle_references, dict(jobs.values()))
        for op in self.workload.ops:
            res = self.warm.get(op.name)
            if res is None:
                continue  # the op raised; already counted
            ref = refs[jobs[op.name][0]] if op.name in jobs else None
            msg = check.check_query(self.registry.REGISTRY[op.query], *res, self.sf_dir, ref)
            if msg:
                self.failures.append((op.name, 0, f"check: {msg}"))

    def matmul_references(self):
        """op name -> {checksum, partials} of its numpy reference product."""
        shift = inputs.matmul_shift(self.args.seed)
        jobs = {}
        for op in self.workload.ops:
            specs = tuple((n, shift + off, mod) for n, off, mod in (OPERANDS[x] for x in op.operands))
            jobs[op.name] = (f"{op.name}:{specs}", (self.sf_dir,) + specs)
        refs = check.Cache(self.workload.name, self.args.seed).fill(check.matmul_references, dict(jobs.values()))
        return {name: refs[key] for name, (key, _) in jobs.items()}

    def check_rows_only_repeats(self):
        """Rows-only queries (no oracle) must hash the same in every arm
        and on a repeat after the timed passes."""
        by_query = {}
        for op in self.workload.ops:
            if op.kind == "query" and self.warm.get(op.name) is not None:
                by_query.setdefault(op.query, []).append(op)
        for query, ops in by_query.items():
            if query in self.oracles:
                continue
            hashes = {check.rows_hash(*self.warm[op.name]) for op in ops}
            again = self.run_op(ops[-1], -1, "check")
            if again is not None:
                hashes.add(check.rows_hash(*again))
            if len(hashes) != 1:
                self.failures.append((query, -1, "check: rows-only hash differs across arms or passes"))

    # ------------------------------------------------------------ metrics

    def timed_samples(self):
        return [s for s in self.samples if s["pass"] > 0 and "error" not in s]

    def end_to_end(self, stages):
        walls = [t1 - t0 for t0, t1, _, _ in self.passes]
        by_op = {}
        for s in self.timed_samples():
            by_op.setdefault(s["op"], []).append(s["t2"] - s["t0"])
        cpu = [sum(c1.values()) - sum(c0.values()) for _, _, c0, c1 in self.passes]
        shuffle = []
        for t0, t1, _, _ in self.passes:
            sel = [s for s in stages if s["status"] == "COMPLETE" and ledger.in_window(s["t0"], t0, t1)]
            shuffle.append(sum(s["shuffleReadBytes"] + s["shuffleWriteBytes"] for s in sel) / ledger.MB)
        hwm = self.tree.hwm_mb()
        m = {
            "setup_s": self.setup_s,
            "pass_s": stats.median(walls),
            "op_geomean_s": stats.geomean(stats.median(v) for v in by_op.values()),
            "cpu_s": stats.median(cpu),
            "shuffle_mb": stats.median(shuffle),
            "peak_rss_mb": sum(hwm.values()),
        }
        q1, _, q3 = stats.quartiles(walls)
        tail = stats.tail_ratio(by_op)
        self.context = {
            "pass_s_q1": q1,
            "pass_s_q3": q3,
            "passes": len(walls),
            "op_samples": sum(len(v) for v in by_op.values()),
            "op_median_s": {k: stats.median(v) for k, v in by_op.items()},
            "op_tail_ratio": None if tail is None else {"value": tail[0], "percentile": tail[1], "n": tail[2]},
            "hwm_mb": hwm,
            "pass_walls_s": walls,
            "pass_cpu_s": [{g: c1[g] - c0[g] for g in c1} for _, _, c0, c1 in self.passes],
            "op_samples_s": by_op,
            "sentinel": self.sentinel,
        }
        return m

    def op_ledger(self, s, jobs, stage_by_id, sql):
        """Per-layer numbers of one op sample."""
        t0, t1, t2 = s["t0"], s["t1"], s["t2"]
        op_jobs = [j for j in jobs if ledger.in_window(j["t0"], t0, t2)]
        ids = sorted({sid for j in op_jobs for sid in j["stageIds"]})
        attempts = [a for sid in ids for a in stage_by_id.get(sid, [])]
        done = [a for a in attempts if a["status"] == "COMPLETE"]
        intervals = [(a["t0"], a["t1"]) for a in done if a["t0"] and a["t1"]]
        gap, busy = stats.driver_gap((t0, t2), intervals)
        led = {
            "op": s["op"],
            "pass": s["pass"],
            "wall_s": t2 - t0,
            "operators.call_s": t1 - t0,
            "operators.action_s": t2 - t1,
            "operators.eager_jobs": sum(1 for j in op_jobs if ledger.in_window(j["t0"], t0, t1)),
            "driver.gap_s": gap,
            "sched.critical_path_s": busy,
            "sched.clip_s": stats.union_length(intervals) - busy,
            "sched.jobs": len(op_jobs),
            "sched.stages": len(done),
            "sched.stages_skipped": sum(1 for a in attempts if a["status"] == "SKIPPED"),
            "sched.tasks": sum(a["numCompleteTasks"] for a in done),
            "exec.run_s": sum(a["executorRunTime"] for a in done) / 1e3,
            "exec.cpu_s": sum(a["executorCpuTime"] for a in done) / 1e9,
            "exec.deser_s": sum(a["executorDeserializeTime"] for a in done) / 1e3,
            "exec.gc_s": sum(a["jvmGcTime"] for a in done) / 1e3,
            "shuffle.write_mb": sum(a["shuffleWriteBytes"] for a in done) / ledger.MB,
            "shuffle.read_mb": sum(a["shuffleReadBytes"] for a in done) / ledger.MB,
            "shuffle.bytes": sum(a["shuffleWriteBytes"] + a["shuffleReadBytes"] for a in done),
            "shuffle.write_s": sum(a["shuffleWriteTime"] for a in done) / 1e9,
            "shuffle.fetch_wait_s": sum(a["shuffleFetchWaitTime"] for a in done) / 1e3,
            "shuffle.spill_mb": sum(a["memoryBytesSpilled"] + a["diskBytesSpilled"] for a in done) / ledger.MB,
            "sources.input_mb": sum(a["inputBytes"] for a in done) / ledger.MB,
            "storage.cached_mb": s.get("storage.cached_mb", 0.0),
            "memo.calls": s.get("memo.calls", 0),
            "memo.misses": s.get("memo.misses", 0),
            "plans.strategy": s.get("plans.strategy"),
            "plans.block_size": s.get("plans.block_size"),
            "plans.decisions": int("plans.strategy" in s) + int("plans.block_size" in s),
        }
        longest = max(done, key=lambda a: (a["t1"] or 0) - (a["t0"] or 0), default=None)
        led["exec.straggler_ratio"] = self.rest.straggler_ratio(longest) if longest else 1.0
        py = {k: 0.0 for k in ledger.PYTHON_NODE_METRICS.values()}
        py["python.rows_out"] = 0
        for e in sql:
            if not ledger.in_window(e["t0"], t0, t2):
                continue
            for node in e.get("nodes", []):
                if not ledger.is_python_node(node["nodeName"]):
                    continue
                for m in node.get("metrics", []):
                    if m["name"] in ledger.PYTHON_NODE_METRICS:
                        key = ledger.PYTHON_NODE_METRICS[m["name"]]
                        v = ledger.parse_sql_metric(m["value"])
                        py[key] += v / ledger.MB if key.endswith("_mb") else v
                    elif m["name"] == "number of output rows":
                        py["python.rows_out"] += int(ledger.parse_sql_metric(m["value"]))
        led.update(py)
        ev = [e for e in self.stream_events if t0 <= e[0] <= t2 + 1e-3]
        last = {}
        for ts, run_id, batch, state in ev:
            if run_id not in last or batch > last[run_id][0]:
                last[run_id] = (batch, state)
        led["streaming.batches"] = len(ev)
        led["streaming.state_rows"] = sum(st for _, st in last.values())
        led["spans"] = self.spans(s, done)
        return led

    def spans(self, s, done):
        """Op span with its call and action windows as children and its
        stages (from REST) parented to the op; self times per span."""
        oid = f"p{s['pass']}.{s['op']}"
        call, action = (s["t0"], s["t1"]), (s["t1"], s["t2"])
        st = [(a["t0"], a["t1"]) for a in done if a["t0"] and a["t1"]]
        in_call = [iv for iv in st if iv[0] < s["t1"]]
        in_action = [iv for iv in st if iv[0] >= s["t1"]]
        return {
            "id": oid,
            "op": [s["t0"], s["t2"]],
            "self_s": {
                "op": stats.self_time((s["t0"], s["t2"]), [call, action]),
                "call": stats.self_time(call, in_call),
                "action": stats.self_time(action, in_action),
            },
            "stages": [
                {"parent": oid, "stageId": a["stageId"], "attempt": a["attemptId"], "start": a["t0"], "end": a["t1"]}
                for a in done
                if a["t0"] and a["t1"]
            ],
        }

    def layer_metrics(self, ledgers):
        per_pass = {}
        for led in ledgers:
            per_pass.setdefault(led["pass"], []).append(led)
        sums = {k: [] for k in PER_LAYER}
        flops = self.useful_flops()
        for (t0, t1, c0, c1), (p, leds) in zip(self.passes, sorted(per_pass.items())):
            wall = t1 - t0
            agg = {}
            for k in PER_LAYER:
                vals = [led[k] for led in leds if k in led]
                agg[k] = sum(vals) if vals else 0.0
            agg["driver.gap_share"] = agg["driver.gap_s"] / wall
            agg["python.run_share"] = sum(led["python.run_s"] for led in leds) / max(agg["exec.run_s"], 1e-9)
            agg["exec.straggler_ratio"] = max(led["exec.straggler_ratio"] for led in leds)
            agg["storage.cached_mb"] = max(led["storage.cached_mb"] for led in leds)
            agg["proc.driver_cpu_s"] = c1["driver"] - c0["driver"]
            agg["proc.jvm_cpu_s"] = c1["jvm"] - c0["jvm"]
            agg["gflops"] = flops / wall / 1e9
            agg["trace.pass_s"] = wall
            for k in PER_LAYER:
                sums[k].append(agg[k])
        out = {k: stats.median(v) for k, v in sums.items() if v}
        out["session.start_s"] = self.layer_setup["session.start_s"]
        out["sources.input_build_s"] = stats.median(self.input_build_times) + self.layer_setup.get(
            "sources.operand_build_s", 0.0
        )
        hwm = self.context["hwm_mb"]
        out["proc.jvm_hwm_mb"] = hwm["jvm"]
        out["proc.python_hwm_mb"] = hwm["python"]
        return out

    def useful_flops(self):
        if self.workload.name != "matmul":
            return 0
        return sum(2 * ref["partials"] for ref in self.matmul_references().values())

    def count_table(self, ledgers):
        table = {}
        for led in ledgers:
            row = table.setdefault(led["op"], {k: [] for k in COUNT_FIELDS})
            for k in COUNT_FIELDS:
                row[k].append(led[k])
        # a count that repeats across passes collapses to one number
        return {
            op: {k: (v[0] if len(set(v)) == 1 else v) for k, v in row.items()} for op, row in table.items()
        }

    # ------------------------------------------------------------ shutdown

    def stop(self):
        if getattr(self, "listener", None) is not None:
            self.spark.streams.removeListener(self.listener)
        if getattr(self, "hooks", None) is not None:
            self.hooks.uninstall()
        try:
            self.spark.stop()
        except Exception:  # the py4j link breaks when a signal lands mid-call
            traceback.print_exc(file=sys.stderr)
        gw = self.sc._gateway
        gw.shutdown()
        try:
            self.jvm_proc.stdin.close()
            self.jvm_proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # the JVM did not exit on its own
            self.jvm_proc.kill()
            self.jvm_proc.wait(timeout=30)
        # Python workers outlive the JVM by a moment; they are re-parented
        # to this process and waited for by reap_children


def become_subreaper() -> None:
    """Have orphans of the processes this run starts (Python workers left
    by the JVM, subshells of the spark-submit launcher) re-parented to
    this process, so that reap_children can wait for every one of them."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def reap_children(timeout: float = 10.0) -> None:
    """Wait until this process has no child left; SIGKILL whatever still
    runs under it after ``timeout`` seconds."""
    deadline = time.time() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no children left
        if pid:
            continue
        if time.time() < deadline:
            time.sleep(0.05)
            continue
        for pid in ledger.descendants(os.getpid()):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


def main(argv=None) -> int:
    start_wall = ledger.process_start_wall()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"error: the package {PKG}/ is not in {ROOT}; run from a checkout of the repository", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(inputs.DATA_DIR, "lineitem.parquet")):
        print(f"error: benchmark inputs missing under {inputs.DATA_DIR}", file=sys.stderr)
        return 2

    become_subreaper()
    # SIGTERM unwinds through the finally blocks below, which stop the JVM
    # and wait for every child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args, start_wall)
    run.isolate()
    try:
        run.build_inputs()
        run.mark("inputs")
        run.start_session()
        run.mark("session")
        try:
            if run.workload.name == "matmul":
                run.build_operands()
                run.mark("operands")
            run.install_tracing()
            run.warmup()
            run.setup_s = (
                time.time()
                - start_wall
                - sum(run.input_build_times)
                + stats.median(run.input_build_times)
            )
            run.mark("setup_end")
            run.check_results()
            run.mark("checked")
            run.timed_passes()
            run.mark("timed_end")
            run.sentinel["end"] = ledger.cpu_sentinel()
            run.check_rows_only_repeats()
            run.rest.settle()
            jobs, stages, sql = run.rest.snapshot(details=run.traced)
            run.mark("snapshot")
            metrics = run.end_to_end(stages)
            record = {
                "workload": args.workload,
                "seed": args.seed,
                "seconds": args.seconds,
                "trace": args.trace,
                "cpus": run.cpus,
                "end_to_end": metrics,
                "context": run.context,
                "phases": run.phases,
            }
            if run.traced:
                stage_by_id = {}
                for st in stages:
                    stage_by_id.setdefault(st["stageId"], []).append(st)
                ledgers = [run.op_ledger(s, jobs, stage_by_id, sql) for s in run.timed_samples()]
                layer = run.layer_metrics(ledgers)
                record["per_layer"] = layer
                record["count_table"] = run.count_table(ledgers)
                record["ops"] = ledgers
                record["setup"] = dict(run.layer_setup, input_build_s=run.input_build_times)
        finally:
            run.stop()
            run.mark("stopped")
    finally:
        reap_children()
        shutil.rmtree(run.work, ignore_errors=True)

    record["failures"] = run.failures
    record["attempted"] = run.attempted
    os.makedirs(OUT_DIR, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    out_path = os.path.join(OUT_DIR, f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}.json")
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1, default=str)

    shown = {k: (v, END_TO_END[k]) for k, v in metrics.items()}
    if run.traced:
        shown = {k: (record["per_layer"][k], PER_LAYER[k]) for k in PER_LAYER}
    report(run, metrics, shown, out_path)
    failed = len(run.failures)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": run.attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
            }
        )
    )
    return 0


def report(run, metrics, shown, out_path):
    """Human-readable lines ahead of the JSON line."""
    ctx = run.context
    print(f"workload {run.workload.name}  seed {run.args.seed}  trace {run.args.trace}  local[{run.cpus}]")
    for k, u in END_TO_END.items():
        extra = ""
        if k == "pass_s":
            extra = f"  (q1 {ctx['pass_s_q1']:.4f}, q3 {ctx['pass_s_q3']:.4f}, n={ctx['passes']})"
        print(f"  {k:<16} {metrics[k]:>12.4f} {u}{extra}")
    tail = ctx["op_tail_ratio"]
    if tail is None:
        print(f"  {'op_tail_ratio':<16} {'n/a':>12} ratio  (n={ctx['op_samples']} op samples; needs > 10)")
    else:
        print(f"  {'op_tail_ratio':<16} {tail['value']:>12.4f} ratio  (p{tail['percentile']:.0f}, n={tail['n']})")
    if run.workload.name == "matmul":
        gf = run.useful_flops() / metrics["pass_s"] / 1e9
        print(f"  {'gflops':<16} {gf:>12.4f} GFLOP/s")
    print(f"  {'fail_ratio':<16} {len(run.failures) / max(run.attempted, 1):>12.4f} ratio  ({len(run.failures)}/{run.attempted})")
    for op, p, why in run.failures:
        print(f"  FAILED {op} pass {p}: {why}")
    if run.traced:
        for k, (v, u) in shown.items():
            print(f"  {k:<24} {v:>12.4f} {u}")
    print(f"  record: {os.path.relpath(out_path, ROOT)}")


if __name__ == "__main__":
    sys.exit(main())
