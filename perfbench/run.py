#!/usr/bin/env python3
"""ER benchmark: one workload, one seed, one fresh Spark session.

    python3 perfbench/run.py --workload checkpointed --seed 1 --seconds 45 --trace 0

Run from the repository root. The program under test is the package in
that root (``bigdataentityresolution_spark``), driven only through its
public entry points: ``session.get_spark``, ``plans.pipeline``
(``run_er_pipeline``, ``labeled_pair_f1``, ``verify_content_invariant``),
``plans.checkpoint.StageRunner`` and ``operators.blocking.block_stats``.

Closed loop, one client: each pipeline run starts when the previous one
has ended. Everything the benchmark writes lives under ``.perfbench/``
in the root. The last line of stdout is the result object
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports
the end-to-end metrics and ``--trace 1`` the per-layer ones. See
README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

PROC_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
EVENTLOG = os.path.join(WORK, "eventlog")

LABELED_PAIR_F1_MIN = 0.99  # the north rule (README.md "Correctness gate")
LOAD_REPEATS = 3


def _log(msg: str) -> None:
    print(f"[perfbench +{time.time() - PROC_START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _configure_environment(trace: bool) -> dict:
    """Keep every file Spark and the JVM write inside WORK, and pin the
    session shape. Returns the settings recorded with each result."""
    cpus = _cpus()
    tmp = os.path.join(WORK, "tmp")
    local_dir = os.path.join(WORK, "spark-local")
    for d in (tmp, local_dir):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local_dir
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    if trace:
        shutil.rmtree(EVENTLOG, ignore_errors=True)
        os.environ["SPARK_GRAFT_EVENTLOG"] = EVENTLOG
    else:
        os.environ.pop("SPARK_GRAFT_EVENTLOG", None)
    return {
        "master": f"local[{cpus}]",
        "shuffle_partitions": max(cpus, 8),
        "driver_heap": "2g",
    }


class Bench:
    def __init__(self, workload: str, mode: str, seed: int, trace: bool):
        self.workload = workload
        self.mode = mode
        self.seed = seed
        self.trace = trace
        self.attempted = 0
        self.failures: list[str] = []
        self.failed_runs: set[str] = set()
        self.runs: list[dict] = []
        self.spark = None
        self.session_start_s = 0.0
        self.load_s: list[float] = []

    # -- set-up -----------------------------------------------------------
    def setup(self, env: dict) -> None:
        from bigdataentityresolution_spark.session import get_spark

        from perfbench.corpus import ensure_corpus

        self.corpus = ensure_corpus(
            os.path.join(WORK, "corpus"), self.workload, self.seed, _cpus()
        )
        extra = {"spark.eventLog.compress": "false"} if self.trace else {}
        t0 = time.time()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=env["master"],
            shuffle_partitions=env["shuffle_partitions"],
            extra_conf=extra,
        )
        self.session_start_s = time.time() - t0
        self.load_s = []
        for i in range(LOAD_REPEATS):
            if i:
                self.files.unpersist()
                self.pairs.unpersist()
            t0 = time.time()
            self.files = self.spark.read.parquet(self.corpus["files"]).cache()
            self.pairs = self.spark.read.parquet(self.corpus["pairs"]).cache()
            self.files.count()
            self.pairs.count()
            self.load_s.append(time.time() - t0)
        self.setup_s = self.session_start_s + statistics.median(self.load_s)

        import pyarrow.parquet as pq

        t = pq.read_table(self.corpus["truth"]).to_pydict()
        self.truth = dict(zip(t["spec_id"], t["cluster_id"]))
        sc = self.spark.sparkContext
        env.update(
            {
                "spark_version": self.spark.version,
                "java_version": sc._jvm.System.getProperty("java.version"),
                "resolved_master": sc.master,
                "resolved_shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
                "resolved_local_dir": sc.getConf().get("spark.local.dir"),
                "local_dir_fs": _fs_type(sc.getConf().get("spark.local.dir")),
                "input_partitions": self.files.rdd.getNumPartitions(),
                "workload": self.workload,
                "seed": self.seed,
                "n_files": self.corpus["n_files"],
                "files_bytes": self.corpus["files_bytes"],
                "content_bytes": self.corpus["content_bytes"],
                "n_labeled_pairs": self.corpus["n_labeled_pairs"],
            }
        )
        _log(f"setup {self.setup_s:.2f}s (session {self.session_start_s:.2f}s, loads {self.load_s})")

    def _cache_state(self) -> tuple[int, int]:
        """(persistent RDDs, cached bytes) held by the session."""
        jsc = self.spark.sparkContext._jsc
        infos = jsc.sc().getRDDStorageInfo()
        return int(jsc.getPersistentRDDs().size()), int(
            sum(i.memSize() + i.diskSize() for i in infos)
        )

    # -- one pipeline run -------------------------------------------------
    def _workdir(self, tag: str) -> str | None:
        """Fresh checkpoint directory in workdir mode; None (cache mode,
        the ``run_er_pipeline`` default) otherwise."""
        if self.mode != "workdir":
            return None
        wd = os.path.join(WORK, "work", f"{self.workload}-s{self.seed}-{tag}")
        shutil.rmtree(wd, ignore_errors=True)
        return wd

    def pipeline(self, workdir: str, tag: str, tracer=None) -> dict | None:
        """Run the pipeline to materialized final labels. Returns the run
        record, or None when the run raised (counted as failed)."""
        from bigdataentityresolution_spark.plans.pipeline import ERConfig, run_er_pipeline

        self.attempted += 1
        before = self._cache_state()
        try:
            t0 = time.time()
            with tracer.run(tag) if tracer else contextlib.nullcontext():
                result = run_er_pipeline(
                    self.spark, self.files, self.pairs, workdir=workdir, config=ERConfig()
                )
                result["labels"].count()
            wall = time.time() - t0
        except Exception:  # a failed run is a measured outcome, not a crash
            self.failures.append(f"{tag}: pipeline raised\n{traceback.format_exc()}")
            self.failed_runs.add(tag)
            _log(self.failures[-1])
            return None
        pdf = result["labels"].toPandas()
        labels = dict(zip(pdf["spec_id"], pdf["cluster_id"]))
        run = {
            "tag": tag,
            "wall_s": wall,
            "labels": labels,
            "result": result,
            "stages_resumed": sum(
                bool(m.get("resumed")) for m in result["runner"].manifests.values()
            ),
            "n_stages": len(result["runner"].manifests),
        }
        # Leak counter: after the caller-side cleanup the pipeline's API
        # asks for, before any GC nudge; leftovers stay cached on purpose.
        result["runner"].release()
        result["train_pairs"].unpersist()
        rdds, nbytes = self._cache_state()
        run["leaked_cached_rdds"] = rdds - before[0]
        run["leaked_cached_bytes"] = nbytes - before[1]
        self.spark.sparkContext._jvm.System.gc()
        _log(f"{tag}: {wall:.2f}s, resumed {run['stages_resumed']}/{run['n_stages']}, "
             f"leaked rdds {run['leaked_cached_rdds']}")
        self.runs.append(run)
        return run

    def check_fresh(self, run: dict) -> dict:
        """Correctness gate of a fresh (non-resumed) run; returns scores."""
        from bigdataentityresolution_spark.plans.pipeline import (
            labeled_pair_f1,
            verify_content_invariant,
        )

        from perfbench.evaluate import pairwise_scores

        bad = verify_content_invariant(self.spark.read.parquet(self.corpus["files"]), self.files)
        if bad:
            self._fail(run, f"content invariant violated on {bad} rows")
        lp = labeled_pair_f1(run["result"]["labels"], self.pairs)
        if lp["f1"] < LABELED_PAIR_F1_MIN:
            self._fail(run, f"labeled_pair_f1 {lp['f1']:.4f} < {LABELED_PAIR_F1_MIN}")
        try:
            scores = pairwise_scores(run["labels"], self.truth)
        except ValueError as e:
            self._fail(run, str(e))
            return {"labeled_pair_f1": lp["f1"], "precision": 0.0, "recall": 0.0, "f1": 0.0}
        if self.corpus["generator"] == "generate_corpus" and scores["f1"] < 1.0:
            self._fail(run, f"f1 {scores['f1']:.6f} < 1.0 on the clone corpus")
        scores["labeled_pair_f1"] = lp["f1"]
        return scores

    def check_same(self, run: dict, ref: dict, what: str) -> None:
        from perfbench.evaluate import same_partition

        try:
            same = same_partition(run["labels"], ref["labels"])
        except ValueError:
            same = False
        if not same:
            self._fail(run, f"{what}: labels differ from {ref['tag']}")

    def _fail(self, run: dict, why: str) -> None:
        run.setdefault("failures", []).append(why)
        self.failures.append(f"{run['tag']}: {why}")
        self.failed_runs.add(run["tag"])
        _log(f"CHECK FAILED {run['tag']}: {why}")

    def resume(self, fresh: dict, tag: str, tracer=None) -> dict | None:
        """Restart from the fresh run's workdir after the final `cluster`
        stage was invalidated and its connected-components round state
        removed: a job killed during final clustering."""
        wd = fresh["workdir"]
        fresh["result"]["runner"].invalidate("cluster")
        for d in glob.glob(os.path.join(wd, "cc_final_*")):
            shutil.rmtree(d)
        run = self.pipeline(wd, tag, tracer)
        if run is None:
            return None
        run["workdir"] = wd
        self.check_same(run, fresh, "resume")
        if run["stages_resumed"] != run["n_stages"] - 1:
            self._fail(run, f"resumed {run['stages_resumed']} of {run['n_stages'] - 1} valid stages")
        return run

    def fresh(self, tag: str, tracer=None, check: bool = True) -> dict | None:
        """A run from scratch. ``check`` runs the full correctness gate;
        without it the caller compares the labels with a checked run."""
        wd = self._workdir(tag)
        run = self.pipeline(wd, tag, tracer)
        if run is not None:
            run["workdir"] = wd
            run["workdir_bytes"] = _dir_bytes(wd) if wd else 0
            if check:
                run["scores"] = self.check_fresh(run)
        return run

    # -- modes --------------------------------------------------------------
    def end_to_end(self) -> dict:
        """One cold pipeline run: the first run in a fresh session, as a
        spark-submit job pays it. A batch run cannot be cut at a time
        limit, so ``seconds`` is its nominal length, not a loop bound."""
        cold = self.fresh("cold")
        if cold is None:
            return {}
        s = cold["scores"]
        return {
            "setup_s": (self.setup_s, "s"),
            "cold_wall_s": (cold["wall_s"], "s"),
            "precision": (s["precision"], "ratio"),
            "recall": (s["recall"], "ratio"),
            "f1": (s["f1"], "ratio"),
            "labeled_pair_f1": (s["labeled_pair_f1"], "ratio"),
        }

    def per_layer(self) -> dict:
        from perfbench import layers
        from perfbench.trace import Tracer, find_event_log

        # The traced run is the cold one, so its spans decompose what
        # cold_wall_s measures. The untraced warm run after it is the label
        # reference and gets the full gate; in workdir mode it is then
        # resumed to exercise the checkpoint read path.
        tracer = Tracer(self.spark)
        with tracer.installed():
            traced = self.fresh("traced_cold", tracer, check=False)
        warm = self.fresh("untraced_warm") if traced else None
        if warm is None:
            return {}
        self.check_same(traced, warm, "traced run")
        resumed = self.resume(warm, "untraced_resume") if self.mode == "workdir" else None
        if self.mode == "workdir" and resumed is None:
            return {}
        extra = layers.untimed_counts(self, traced)
        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()  # flushes the event log
        self.spark = None
        events = find_event_log(EVENTLOG, app_id)
        metrics, checks = layers.summarize(self, tracer, traced, warm, resumed, extra, events)
        for why in checks:
            self._fail(traced, why)
        return metrics


def _fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (tmpfs or a disk)."""
    best, fstype = "", "unknown"
    try:
        with open("/proc/mounts") as f:
            for line in f:
                _, mnt, typ = line.split()[:3]
                if os.path.realpath(path).startswith(mnt) and len(mnt) > len(best):
                    best, fstype = mnt, typ
    except OSError:
        pass
    return fstype


def _proc_stat(pid: int) -> tuple[int, str, int] | None:
    """(parent pid, state, start time) of a live process, from /proc."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return int(fields[1]), fields[0], int(fields[19])


def _descendants(pid: int) -> set[tuple[int, int]]:
    """(pid, start time) of every process below ``pid``."""
    children: dict[int, list[tuple[int, int]]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _proc_stat(int(entry))
            if st is not None:
                children.setdefault(st[0], []).append((int(entry), st[2]))
    found, todo = set(), [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            found.add(child)
            todo.append(child[0])
    return found


def _running(procs: set[tuple[int, int]]) -> set[tuple[int, int]]:
    """The processes of ``procs`` that have not ended (zombies have)."""
    live = set()
    for pid, start in procs:
        st = _proc_stat(pid)
        if st is not None and st[2] == start and st[1] not in ("Z", "X"):
            live.add((pid, start))
    return live


def _stop_spark(spark) -> None:
    """Stop the session and the JVM that PySpark launched for it, and wait
    until every process started under this one has ended. Python workers
    are children of the JVM, so they are listed before it goes."""
    from pyspark import SparkContext

    left = _descendants(os.getpid())
    if spark is not None:
        try:
            spark.stop()
        except Exception:
            _log(f"spark.stop() raised\n{traceback.format_exc()}")
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        with contextlib.suppress(Exception):
            gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # The gateway JVM exits when its stdin closes.
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 10
    while (left := _running(left)) and time.time() < deadline:
        time.sleep(0.1)
    for pid, _ in left:
        with contextlib.suppress(OSError):
            os.kill(pid, signal.SIGKILL)
    deadline = time.time() + 10
    while (left := _running(left)) and time.time() < deadline:
        time.sleep(0.05)
    # Reap any child of this process that has ended.
    with contextlib.suppress(ChildProcessError):
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import bigdataentityresolution_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: program under test not found in {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.corpus import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    env = _configure_environment(bool(args.trace))
    mode = WORKLOADS[args.workload]["mode"]
    env.update({"mode": mode, "seconds": args.seconds, "trace": args.trace})
    bench = Bench(args.workload, mode, args.seed, bool(args.trace))
    # SIGTERM unwinds through the finally below, so the JVM is stopped too.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        bench.setup(env)
        metrics = bench.per_layer() if args.trace else bench.end_to_end()
    finally:
        _stop_spark(bench.spark)

    detail = {
        "environment": env,
        "runs": [
            {k: v for k, v in r.items() if k not in ("labels", "result")} for r in bench.runs
        ],
        "setup": {"session_start_s": bench.session_start_s, "load_s": bench.load_s},
        "failures": bench.failures,
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(
        os.path.join(WORK, "results", f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w"
    ) as f:
        json.dump({**detail, "metrics": metrics}, f, indent=2, default=str)
    print(json.dumps({"environment": env}))
    print(
        json.dumps(
            {
                "correct": not bench.failures and bool(metrics),
                "attempted": bench.attempted,
                "failed": len(bench.failed_runs),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
