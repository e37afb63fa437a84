"""The repo benchmark: WordCount source to sink on two vocabularies plus
a registry mix, timed to the full result.

    python3 perfbench/run.py --workload wc_zipf --seed 1 --seconds 15 --trace 0

Builds the program from source (``build.py``), makes the workload's
inputs from the seed (``inputs.py``), runs the workload's ops closed
loop in one fresh JVM on ``local[N]``, checks every output against
DuckDB (``checks.py``) and prints, as the last line of stdout, one JSON
object: the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a traced run with ``--trace 1``. A stamp line before it
records the host and the run. See README.md for what each metric means
and which layer moves it.
"""
import argparse
import json
import os
import queue
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import checks  # noqa: E402
import inputs  # noqa: E402

REDUCERS = 9       # WordCountOutput reducers (reference job)
CHUNKS = 32        # graftlines chunks per wc input file
EST_JOB_S = 2.5    # seconds one wc job takes on 4 cores; sizes the job
                   # count from --seconds, so every run does the same work
HEAP = "2g"
JVM_DEADLINE_S = 150  # the JVM is killed after this; checks follow
REGISTRY_DATA = HERE / "data" / "sf0.001"

WORKLOADS = {
    # warm_jobs: untimed jobs on the warm file; job times settle (JIT)
    # only after a few jobs.
    "wc_zipf": dict(kind="zipf", mb=16, vocab=100_000, zipf_s=1.2, warm_mb=2, warm_jobs=3),
    "wc_wide": dict(kind="wide", mb=6, vocab=10_000_000, zipf_s=0.0, warm_mb=2, warm_jobs=3),
    "registry_mix": dict(every=64, warm_rows=["wordcount"]),
}
SMOKE = {"wc_zipf": dict(mb=1, warm_mb=0.25, warm_jobs=1),
         "wc_wide": dict(mb=1, warm_mb=0.25, warm_jobs=1)}

END_TO_END = {
    "setup_s": "s", "job_s": "s", "throughput_mb_s": "MB/s", "suite_s": "s",
    "query_p50_s": "s", "query_tail_s": "s", "peak_rss_mb": "MB",
}


def cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ----------------------------------------------------------------- JVM

class Jvm:
    """The run's JVM: set-up + warm-up (timed to its READY line), ops,
    then (traced runs) the layer probes."""

    def __init__(self, classes: Path, opts: dict, work: Path):
        self.result = work / "result.json"
        self.stderr = work / "jvm.log"
        tmp = work / "tmp"
        tmp.mkdir()
        opts = dict(opts, result=self.result, work_dir=work)
        cmd = [build.java(), *build.jvm_flags(), f"-Xms{HEAP}", f"-Xmx{HEAP}",
               f"-Djava.io.tmpdir={tmp}", "-cp", build.classpath(classes),
               "perfbench.PerfBench", "run", *[f"{k}={v}" for k, v in opts.items()]]
        self.t0 = time.perf_counter()
        with open(self.stderr, "wb") as err:
            self.proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                                         text=True)
        self.lines = queue.Queue()
        self.pump = threading.Thread(target=self._pump, daemon=True)
        self.pump.start()
        self.setup_s = None

    def _pump(self):
        for line in self.proc.stdout:
            self.lines.put(line.strip())
        self.lines.put(None)

    def _await(self, word: str, deadline: float) -> bool:
        while True:
            try:
                line = self.lines.get(timeout=max(0.01, deadline - time.monotonic()))
            except queue.Empty:
                return False
            if line is None:
                return False
            if line == word:
                return True

    def finish(self, deadline: float) -> dict:
        """Wait for the JVM; its result dict, or None if it failed."""
        ok = self._await("READY", deadline)
        if ok:
            self.setup_s = time.perf_counter() - self.t0
            ok = self._await("DONE", deadline)
        try:
            self.proc.wait(timeout=max(1, deadline - time.monotonic()) if ok else 0.1)
        except subprocess.TimeoutExpired:
            pass
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()
            ok = False
        self.pump.join(timeout=5)
        self.proc.stdout.close()
        if not ok or self.proc.returncode != 0 or not self.result.exists():
            tail = self.stderr.read_text(errors="replace").splitlines()[-15:]
            log(f"JVM failed (exit {self.proc.returncode}):\n  " + "\n  ".join(tail))
            return None
        return json.loads(self.result.read_text())


# ------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest percentile with at least 10 samples beyond it (the 11th
    largest) when that is at or above the median (21 samples or more);
    otherwise the maximum."""
    s = sorted(xs)
    return s[-11] if len(s) >= 21 else (s[-1] if s else 0.0)


def end_to_end(ops: list, setup_s: float, jvm: dict, input_mb: float) -> dict:
    secs = [o["wall_s"] for o in ops]
    job = median(secs)
    return {
        "setup_s": setup_s,
        "job_s": job,
        "throughput_mb_s": input_mb / job if job else 0.0,
        "suite_s": sum(secs),
        "query_p50_s": job,
        "query_tail_s": tail(secs),
        "peak_rss_mb": jvm["peak_rss_mb"],
    }


def _idle_s(t: dict) -> float:
    """Op wall time during which none of its stages was running."""
    lo, hi = t["start_ms"], t["end_ms"]
    spans = sorted((max(lo, s["submit_ms"]), min(hi, s["complete_ms"]))
                   for s in t["stages"] if s["submit_ms"] >= 0 and s["complete_ms"] >= 0)
    busy, cur_lo, cur_hi = 0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                busy += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        busy += cur_hi - cur_lo
    return max(0.0, (hi - lo - busy) / 1e3)


def _ratio_skew(values: list) -> float:
    m = median(values)
    return max(values) / m if len(values) >= 2 and m > 0 else None


def per_layer(ops: list, jvm: dict, probes: dict, n: int, input_mb: float,
              sink: tuple) -> dict:
    traced = [o for o in ops if "trace" in o]
    k = max(1, len(traced))
    stages = [s for o in traced for s in o["trace"]["stages"]]

    def per_op(key):
        return sum(s[key] for s in stages) / k

    def stage_wall(s):
        return max(0, s["complete_ms"] - s["submit_ms"]) / 1e3

    walls = [o["wall_s"] for o in traced]
    task_skews = [x for x in (_ratio_skew(s["task_run_ms"]) for s in stages) if x]
    part_skews = [x for x in (_ratio_skew(s["task_read_bytes"]) for s in stages) if x]
    counts_stages = probes["counts"]["trace"]["stages"]
    scan_stages = probes["scan"]["trace"]["stages"]
    map_records = sum(s["sw_records"] for s in counts_stages if s["map"] and s["in_records"] > 0)
    tokens = probes["tokens"]
    m = {
        "sources.plan_chunks_s": probes["plan_chunks_s"],
        "sources.plan_chunks_share": probes["plan_chunks_s"] / median(walls) if walls else 0.0,
        "sources.chunks": probes["chunks"],
        "sources.scan_s": probes["scan"]["wall_s"],
        "sources.input_mb": input_mb,
        "sources.input_records": sum(s["in_records"] for s in scan_stages),
        "operators.tokens": tokens,
        "operators.combine_ratio": map_records / tokens if tokens > 0 else 0.0,
        "operators.map_stage_s": sum(stage_wall(s) for s in stages if s["map"]) / k,
        "operators.reduce_stage_s": sum(stage_wall(s) for s in stages if not s["map"]) / k,
        "shuffle.write_mb": per_op("sw_mb"),
        "shuffle.write_records": per_op("sw_records"),
        "shuffle.read_mb": per_op("sr_mb"),
        "shuffle.fetch_wait_s": per_op("fetch_wait_s"),
        "shuffle.partition_skew": median(part_skews),
        "WordCountOutput.write_s": probes["sink"]["wall_s"],
        "WordCountOutput.files": sink[0],
        "WordCountOutput.mb": sink[1],
        "SparkEntry.build_s": sum(o.get("build_s", 0.0) for o in traced) / k,
        "SparkEntry.plan_s": sum(o.get("plan_s", 0.0) for o in traced) / k,
        "SparkEntry.exec_s": sum(o.get("exec_s", 0.0) for o in traced) / k,
        "SparkEntry.jobs_per_query": sum(o["trace"]["jobs"] for o in traced) / k,
        "exec.jobs": sum(o["trace"]["jobs"] for o in traced),
        "exec.jobs_unattributed": sum(o["trace"]["jobs_unattributed"] for o in traced),
        "exec.stages": len(stages),
        "exec.tasks": sum(s["tasks"] for s in stages),
        "exec.failed_tasks": sum(s["failed_tasks"] for s in stages),
        "exec.task_run_s": per_op("run_s"),
        "exec.task_cpu_s": per_op("cpu_s"),
        "exec.gc_s": per_op("gc_s"),
        "exec.spill_mb": per_op("spill_mb"),
        "exec.peak_exec_mem_mb": max((s["peak_mem_mb"] for s in stages), default=0.0),
        "exec.task_skew": median(task_skews),
        "exec.busy_frac": (sum(s["run_s"] for s in stages) / (n * sum(walls))
                           if walls and sum(walls) > 0 else 0.0),
        "driver.idle_s": sum(_idle_s(o["trace"]) for o in traced) / k,
        "trace.suite_s": sum(walls),
        "trace.listener_s": jvm["listener_s"],
    }
    return m


PER_LAYER_UNITS = {
    "sources.plan_chunks_s": "s", "sources.plan_chunks_share": "ratio",
    "sources.chunks": "count", "sources.scan_s": "s", "sources.input_mb": "MB",
    "sources.input_records": "count", "operators.tokens": "count",
    "operators.combine_ratio": "ratio", "operators.map_stage_s": "s",
    "operators.reduce_stage_s": "s", "shuffle.write_mb": "MB",
    "shuffle.write_records": "count", "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_s": "s", "shuffle.partition_skew": "ratio",
    "WordCountOutput.write_s": "s", "WordCountOutput.files": "count",
    "WordCountOutput.mb": "MB", "SparkEntry.build_s": "s", "SparkEntry.plan_s": "s",
    "SparkEntry.exec_s": "s", "SparkEntry.jobs_per_query": "count",
    "exec.jobs": "count", "exec.jobs_unattributed": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.failed_tasks": "count", "exec.task_run_s": "s",
    "exec.task_cpu_s": "s", "exec.gc_s": "s", "exec.spill_mb": "MB",
    "exec.peak_exec_mem_mb": "MB", "exec.task_skew": "ratio", "exec.busy_frac": "ratio",
    "driver.idle_s": "s", "trace.suite_s": "s", "trace.listener_s": "s",
}


# ------------------------------------------------------------ workloads

def registry_sample(names: list, every: int) -> list:
    """Every `every`-th row of each name family in name order, starting
    mid-stride (the middle row of a family smaller than the stride),
    families in name order. Neither the rows nor their order depend on
    the seed: row costs span 40x and depend on what ran before them in
    the JVM, so a seed-drawn sample moves the suite total, and a
    seed-drawn order moves the median row, by 20-40% from seed to seed.
    """
    fams = {}
    for n in sorted(names):
        fams.setdefault(inputs.family(n), []).append(n)
    return [ns[i] for _, ns in sorted(fams.items())
            for i in range(min(every // 2, len(ns) // 2), len(ns), every)]


def git_commit():
    try:
        top = subprocess.run(["git", "-C", str(build.ROOT), "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    out = top.stdout.split()
    if top.returncode != 0 or len(out) != 2 or Path(out[0]).resolve() != build.ROOT:
        return None
    return out[1]


def tracing_overhead(key: str, trace: bool, metrics: dict):
    """Untraced runs record their suite_s under `key`; a traced run with
    the same key returns trace.suite_s / suite_s - 1 (None when no such
    untraced run was made in this checkout)."""
    rec = build.BUILD / "records" / f"{key}.json"
    if not trace:
        rec.parent.mkdir(parents=True, exist_ok=True)
        rec.write_text(json.dumps({"suite_s": metrics["suite_s"]}))
        return None
    if not rec.exists():
        return None
    return metrics["trace.suite_s"] / json.loads(rec.read_text())["suite_s"] - 1


def run(workload: str, seed: int, seconds: int, trace: bool, smoke: bool = False,
        before_check=None) -> dict:
    """Run one workload; returns {"stamp": ..., "result": ...}.
    `before_check(ops)` is called after the JVM ends and before any
    output is checked."""
    started = time.monotonic()
    load_start = os.getloadavg()
    classes, catalog = build.build()
    n = cores()
    cfg = dict(WORKLOADS[workload], **(SMOKE.get(workload, {}) if smoke else {}))
    work = build.BUILD / "work" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    oracle = catalog["oracle"]
    con = checks.connect(work)
    problems = []
    try:
        base = dict(cores=n, trace=int(trace), reducers=REDUCERS)
        if workload == "registry_mix":
            corpus = inputs.registry_corpus(build.BUILD, REGISTRY_DATA, CHUNKS, n)
            rows = registry_sample(catalog["queries"], cfg["every"])
            if smoke:
                rows = rows[:3]
            base.update(workload="registry", data_dir=REGISTRY_DATA, line_file=corpus["line_file"],
                        chunk_size=corpus["chunk_size"], locality=corpus["locality"],
                        warm_rows=",".join(cfg["warm_rows"]), rows=",".join(rows))
            input_mb = checks.dir_mb(REGISTRY_DATA)[1]
            line_file, line_mb = corpus["line_file"], corpus["bytes"] / 1048576
            planned = rows
        else:
            meta = inputs.wc_inputs(build.BUILD, workload, seed, cfg["kind"], cfg["mb"],
                                    cfg["vocab"], cfg["zipf_s"], CHUNKS, n, cfg["warm_mb"])
            jobs = 1 if smoke else max(1, round(seconds / EST_JOB_S))
            base.update(workload="wc", line_file=meta["line_file"], warm_file=meta["warm_file"],
                        chunk_size=meta["chunk_size"], locality=meta["locality"], jobs=jobs,
                        warm_jobs=cfg["warm_jobs"])
            input_mb = line_mb = meta["bytes"] / 1048576
            line_file = meta["line_file"]
            planned = [f"job{j}" for j in range(jobs)]
        log(f"{workload} seed={seed} local[{n}] input={input_mb:.2f} MB ops={len(planned)}")
        jvm = Jvm(classes, base, work)
        res = jvm.finish(time.monotonic() + JVM_DEADLINE_S)
        # a failed JVM counts every planned op as attempted and failed
        ops = res["ops"] if res else [{"name": p, "ok": False, "error": "JVM failed"}
                                      for p in planned]
        if before_check:
            before_check(ops)
        for o in ops:
            if not o["ok"]:
                problems.append((o["name"], o.get("error") or "failed"))
            elif o.get("check_error"):
                problems.append((o["name"], "correctness dump failed: " + o["check_error"]))
        good = [o for o in ops if o["ok"] and not o.get("check_error")]

        unchecked = []
        if workload == "registry_mix":
            checks.registry_views(con, REGISTRY_DATA)
            for o in good:
                status = checks.check_row(con, work / "rows", o["name"], oracle)
                if status == "NO-ORACLE":
                    unchecked.append(o["name"])
                elif status != "OK":
                    problems.append((o["name"], status))
        probes = res.get("probes") if res else None
        sink_outs = [o["out"] for o in good if "out" in o]
        if probes:
            sink_outs.append(probes["sink"]["out"])
        if workload != "registry_mix" or probes:
            if workload == "registry_mix":
                # the probe sink reads the registry corpus, not the job input
                sink_outs = [probes["sink"]["out"]]
            problems += checks.check_wordcount(
                con, line_file, oracle["wordcount"], REDUCERS, sink_outs,
                tokens=probes["tokens"] if probes else None)
        failed_names = {name for name, _ in problems}
        attempted = len(ops) + (2 if probes else 0)
        failed = len(failed_names)

        if trace:
            if not probes:
                raise RuntimeError("traced run produced no layer probes")
            sink = checks.dir_mb(Path(probes["sink"]["out"]))
            metrics = per_layer(ops, res, probes, n, line_mb, sink)
            units = PER_LAYER_UNITS
        else:
            if not res:
                raise RuntimeError("the JVM produced no result")
            metrics = end_to_end(good or ops, jvm.setup_s, res, input_mb)
            units = END_TO_END
        source = build.source_hash()
        stamp = {
            "workload": workload, "seed": seed, "trace": int(trace), "cpus": os.cpu_count(),
            "local_n": n, "ops": len(ops), "input_mb": round(input_mb, 4),
            "setup_split_s": res["setup_split_s"],
            "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            "heap": HEAP, "heap_max_mb": res["heap_max_mb"],
            "spark_version": res["spark_version"], "java_version": res["java_version"],
            "git_commit": git_commit(), "source_hash": source,
            "trace_overhead_frac": tracing_overhead(
                f"{workload}-{seed}-{seconds}-{int(smoke)}-{source}", trace, metrics),
            "failed_frac": failed / max(1, attempted), "failures": problems[:20],
            "unchecked_rows": unchecked, "wall_s": round(time.monotonic() - started, 2),
        }
        if workload == "registry_mix":
            stamp["rows"] = [o["name"] for o in ops]
        return {
            "stamp": stamp,
            "result": {
                "correct": failed == 0, "attempted": max(1, attempted), "failed": failed,
                "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
            },
        }
    finally:
        con.close()
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, one op (tests)")
    a = ap.parse_args(argv)
    try:
        out = run(a.workload, a.seed, a.seconds, bool(a.trace), a.smoke)
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2
    st, res = out["stamp"], out["result"]
    for k, v in res["metrics"].items():
        log(f"{k:32s} {v['value']:14.4f} {v['unit']}")
    log(f"correct={res['correct']} attempted={res['attempted']} failed={res['failed']} "
        f"failed_frac={st['failed_frac']:.4f}")
    for name, why in st["failures"]:
        log(f"FAILED {name}: {why}")
    print(json.dumps({"stamp": st}))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
