#!/usr/bin/env python3
"""The xjs benchmark: one workload, one seed, a closed loop of passes.

    python3 benchmark/run.py --workload validate --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout.  One process drives Spark on
``local[<cores>]``; one client runs passes back to back, each starting
when the previous one (and its output check) has finished.

1. Seeded inputs are generated, or taken from the cache (``.bench_cache``).
2. Set-up runs ``N_SETUPS`` times (Spark session up, Python workers
   warmed, plan compiled); the first includes the JVM launch and the
   Python imports.  ``setup_s`` is their median.
3. A workload with ``warm_up`` set runs one untimed pass over the tiny
   inputs of the same seed, so the JVM has compiled the hot paths
   before timing.  The others are timed from a JVM that has only been
   set up, as each ``spark-submit`` of a job is.
4. Timed passes run until ``--seconds`` have passed (at least one).
   Every pass writes to a fresh directory and its stored outputs are
   checked: a phase that raises, exits non-zero or fails its check
   counts as failed.
5. ``--trace 1`` runs untraced and traced passes in turn (at least
   three: untraced, traced, untraced).  Traced passes tag each phase's
   Spark jobs with a job group and afterwards read Spark's status stores
   for the per-layer numbers.  The tracing overhead compares the traced
   passes with the untraced passes after the first; as those run later,
   on a warmer JVM, it is an upper bound.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is the run record, also written to ``.bench_out/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".bench_cache")
OUT = os.path.join(ROOT, ".bench_out")
WORK = os.path.join(ROOT, ".bench_work")

N_SETUPS = 3
#: driver heap, pinned through XJS_DRIVER_MEM (get_spark defaults to 24g)
#: and pre-touched at -Xms, so G1 heap resizing does not move peak_rss_mb
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "docs_per_s": "docs/s",
    "bytes_written_per_input_byte": "ratio",
    "peak_rss_mb": "MiB",
}

#: modules whose Python-UDF worker time is reported (``<module>.python_s``)
PY_MODULES = (
    "sources.warc", "pipeline.dedup", "pipeline.decontam", "pipeline.grams",
    "pipeline.text", "pipeline.heuristics", "pipeline.pii", "pipeline.bloom",
    "dynamic_spark",
)
SPARK_TOTALS = {
    "task_s": "s", "core_util": "ratio", "gc_s": "s", "python_s": "s",
    "python_boot_s": "s", "shuffle_write_mb": "MiB", "shuffle_write_s": "s",
    "fetch_wait_s": "s", "spill_mb": "MiB", "peak_exec_mem_mb": "MiB", "scan_s": "s",
    "jobs": "count", "stages": "count", "single_task_stages": "count",
    "failed_tasks": "count", "persisted_after": "count",
}
PER_LAYER = {
    "plan.compile_s": "s",
    "checkpoint.run_s": "s",
    "checkpoint.partitions_processed": "count",
    "runtime.violating_row_ratio": "ratio",
    **{f"checks.{c}.wall_s": "s"
       for c in ("stats", "uniqueness", "referential", "drift", "monotonicity")},
    "dynamic_spark.wall_s": "s",
    "dynamic_spark.tasks": "count",
    "jobs.ingest_warc.wall_s": "s",
    "glue.documents.wall_s": "s",
    "jobs.curate_corpus.wall_s": "s",
    "jobs.export_shards.wall_s": "s",
    **{f"{m}.python_s": "s" for m in PY_MODULES},
    "unattributed.python_s": "s",
    "pipeline.bloom.verify_hit_ratio": "ratio",
    "pipeline.export.write_mb": "MiB",
    "pipeline.bloom.state_mb": "MiB",
    **{f"spark.{k}": u for k, u in SPARK_TOTALS.items()},
    "trace.overhead_frac": "ratio",
}


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("validate", "crawl_day"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' mirrors the sf0.001 tables (smoke runs)")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage each timed pass's stored output before it is checked "
                         "(proves the output check can fail)")
    return ap.parse_args(argv)


def _source_digest() -> str:
    """Identity of the program under test (the checkout is not a git
    repository): sha256 over the sources of ``xjs/`` and ``jobs/``."""
    sha = hashlib.sha256()
    for top in ("xjs", "jobs"):
        for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(dirpath, f)
                    sha.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        sha.update(fh.read())
    return sha.hexdigest()[:16]


def _git_revision() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return "unknown (not a git checkout)"


def _summary(values: list[float]) -> dict:
    return {"median": statistics.median(values), "max": max(values), "n": len(values)}


class Runner:
    def __init__(self, args):
        self.args = args
        self.run_id = uuid.uuid4().hex[:10]
        self.work = os.path.join(WORK, self.run_id)
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.passes: list[dict] = []

    # -- environment -----------------------------------------------------------

    def environment(self) -> None:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ.update({
            "XJS_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "spark-local"),
            "TMPDIR": tmp,
            # Python workers import xjs from this checkout
            "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        })
        sys.path.insert(0, ROOT)

    def session(self):
        from xjs.session import get_spark

        spark = get_spark(
            app_name=f"xjs-bench-{self.args.workload}", cores=self.cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                    f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
            })
        spark.sparkContext.setLogLevel("ERROR")
        # start the Python worker daemon and one worker per core
        spark.range(0, 2 * self.cores, 1, self.cores).mapInPandas(
            lambda it: it, "id long").collect()
        return spark

    # -- set-up ----------------------------------------------------------------

    def setup(self, wl) -> list[float]:
        times = []
        for i in range(N_SETUPS):
            t = time.perf_counter()
            if self.spark is not None:
                self.spark.stop()
            self.spark = self.session()
            wl.compile(self.spark)
            times.append(time.perf_counter() - t + (self.t_imports if i == 0 else 0.0))
        return times

    # -- warm-up ---------------------------------------------------------------

    def warm_up(self, wl) -> float:
        """One untimed pass over the workload's tiny inputs of the same
        seed: the JVM compiles the hot paths and Spark caches the
        generated code of every plan, so the timed passes that follow
        measure the program and not the JIT.  A phase that fails here
        ends the warm-up; the timed passes count it.  Tables the warm-up
        left persisted are released, so the timed passes start clean."""
        out = os.path.join(self.work, "warm-up")
        os.makedirs(out)
        t = time.perf_counter()
        try:
            for _name, fn in wl.phases():
                fn(self.spark, out)
        except Exception:  # noqa: BLE001 - reported by the timed passes
            pass
        self.spark.catalog.clearCache()
        shutil.rmtree(out)
        return time.perf_counter() - t

    # -- passes ----------------------------------------------------------------

    def run_pass(self, wl, n: int, traced: bool, tracer, fn_modules) -> dict:
        from observe import job_ids, persisted_tables, sql_totals, stage_totals
        from workloads import dir_bytes

        spark, sc = self.spark, self.spark.sparkContext
        out = os.path.join(self.work, f"pass-{n}")
        os.makedirs(out)
        infos, bad, groups, phase_wall = {}, {}, {}, {}
        phases = wl.phases()
        self.sampler.reset()
        t0 = time.perf_counter()
        with tracer.span("pass", n=n):
            for name, fn in phases:
                if bad:  # a later phase reads what a failed one should have stored
                    bad[name] = ["not run: an earlier phase failed"]
                    continue
                groups[name] = f"{self.run_id}:{n}:{name}" if traced else None
                if traced:
                    sc.setJobGroup(groups[name], name)
                t = time.perf_counter()
                try:
                    with tracer.span(name):
                        infos[name] = fn(spark, out) or {}
                except Exception as e:  # noqa: BLE001 - the phase counts as failed
                    bad[name] = [f"{type(e).__name__}: {str(e)[:400]}"]
                finally:
                    phase_wall[name] = time.perf_counter() - t
                    if traced:
                        sc.setLocalProperty("spark.jobGroup.id", None)
                        sc.setLocalProperty("spark.job.description", None)
        wall = time.perf_counter() - t0
        rec = {
            "n": n, "traced": traced, "wall_s": wall,
            "peak_rss_mb": self.sampler.peak_mb(),
            "persisted_after": persisted_tables(sc),
        }

        # -- untimed from here: output checks, digests, per-layer reads --------
        if self.args.corrupt:
            _corrupt(out)
        if not bad:
            try:
                bad.update(wl.check(out, infos))
                digests = wl.digests(out)
            except Exception as e:  # noqa: BLE001 - an unreadable output fails its check
                digests = {}
                bad.setdefault("stored outputs", []).append(f"{type(e).__name__}: {e}")
            ref = os.path.join(wl.fx.root, "digests.json")
            if not os.path.exists(ref) and not bad and not self.args.corrupt:
                with open(ref, "w") as fh:
                    json.dump(digests, fh, indent=1)
            if os.path.exists(ref):
                with open(ref) as fh:
                    want = json.load(fh)
                for phase, d in digests.items():
                    if want.get(phase) != d:
                        bad.setdefault(phase, []).append(
                            "stored output differs from the first pass on this seed")
        rec["phase_wall_s"] = phase_wall
        rec["bytes_written"] = dir_bytes(out)
        rec["failed_phases"] = sorted(bad)
        self.attempted += len(phases)
        self.failed += min(len(bad), len(phases))
        for phase, msgs in sorted(bad.items()):
            self.failures.extend(f"pass {n} {phase}: {m}" for m in msgs)

        if traced:
            phase_trace = {}
            for name, group in groups.items():
                row = {"wall_s": phase_wall.get(name, 0.0)}
                if group:
                    row.update(stage_totals(sc, group))
                    row.update(sql_totals(spark, job_ids(sc, group), fn_modules))
                phase_trace[name] = row
            rec["phases"] = phase_trace
            rec["layers"] = self.layer_metrics(wl, out, infos, phase_trace, rec) if not bad else {}
        shutil.rmtree(out)
        self.passes.append(rec)
        return rec

    def layer_metrics(self, wl, out, infos, phase_trace, rec) -> dict:
        m = {k: 0.0 for k in PER_LAYER}
        m.update(wl.layer_metrics(self.spark, out, infos, phase_trace))
        tot: dict[str, float] = {}
        for row in phase_trace.values():
            for k, v in row.items():
                if k == "peak_exec_mem_mb":
                    tot[k] = max(tot.get(k, 0.0), v)
                elif isinstance(v, (int, float)):
                    tot[k] = tot.get(k, 0.0) + v
        for k in SPARK_TOTALS:
            m[f"spark.{k}"] = tot.get(k, 0.0)
        m["spark.core_util"] = tot.get("task_s", 0.0) / (rec["wall_s"] * self.cores)
        m["spark.persisted_after"] = len(rec["persisted_after"])
        for k, v in tot.items():
            if k.startswith("python_s."):
                mod = k[len("python_s."):]
                mod = "unattributed" if mod == "<unattributed>" else mod.removeprefix("xjs.")
                key = f"{mod}.python_s"
                if key not in m:  # a module outside the reported list
                    key = "unattributed.python_s"
                m[key] += v
        return m

    # -- the run ---------------------------------------------------------------

    def run(self) -> dict:
        import fixtures
        from observe import RssSampler, Tracer, function_modules
        from workloads import WORKLOADS

        import pyspark  # noqa: F401 - counted in the first set-up
        import xjs.session  # noqa: F401

        self.t_imports = time.perf_counter() - T_PROCESS
        args = self.args
        t = time.perf_counter()
        fx = fixtures.build(CACHE, args.workload, args.seed, args.size)
        wl = WORKLOADS[args.workload](ROOT, fx, args.seed)
        wl.prepare()
        tiny = fixtures.build(CACHE, args.workload, args.seed, "tiny") if wl.warm_up else None
        fixture_s = time.perf_counter() - t

        self.sampler = RssSampler()
        self.sampler.start()
        tracer = Tracer(self.run_id)
        setups = self.setup(wl)
        warm_up_s = self.warm_up(WORKLOADS[args.workload](ROOT, tiny, args.seed)) \
            if wl.warm_up else 0.0

        start = time.perf_counter()
        n = 1
        while True:
            # traced runs alternate after the first pass: 1 U, 2 T, 3 U, 4 T ...
            traced = bool(args.trace) and n % 2 == 0
            tracer.enabled = traced
            self.run_pass(wl, n, traced, tracer, function_modules() if traced else {})
            n += 1
            enough = not args.trace or n > 3
            if enough and time.perf_counter() - start >= args.seconds:
                break

        untraced = [p for p in self.passes if not p["traced"]]
        traced_p = [p for p in self.passes if p["traced"]]
        wall = statistics.median(p["wall_s"] for p in untraced)
        if args.trace:
            metrics = {}
            for k, unit in PER_LAYER.items():
                vals = [p["layers"].get(k, 0.0) for p in traced_p if p.get("layers")]
                metrics[k] = {"value": statistics.median(vals) if vals else 0.0, "unit": unit}
            tw = statistics.median(p["wall_s"] for p in traced_p)
            warm = statistics.median(p["wall_s"] for p in untraced[1:])
            metrics["trace.overhead_frac"]["value"] = (tw - warm) / warm
        else:
            values = {
                "setup_s": statistics.median(setups),
                "wall_s": wall,
                "docs_per_s": wl.n_docs() / wall,
                "bytes_written_per_input_byte":
                    statistics.median(p["bytes_written"] for p in untraced) / wl.input_bytes(),
                "peak_rss_mb": statistics.median(p["peak_rss_mb"] for p in untraced),
            }
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}

        record = {
            "workload": args.workload, "seed": args.seed, "size": args.size,
            "seconds": args.seconds, "trace": args.trace, "run_id": self.run_id,
            "loop": "closed, one client",
            "cores": self.cores,
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_heap": DRIVER_MEM,
            "versions": {
                "spark": self.spark.version, "python": platform.python_version(),
                "java": self.spark.sparkContext._jvm.System.getProperty("java.version"),
            },
            "git_revision": _git_revision(), "source_digest": _source_digest(),
            "fixture_s": fixture_s, "fixture_generator": fixtures.GEN_VERSION,
            "input": fx.props, "input_bytes": wl.input_bytes(), "input_docs": wl.n_docs(),
            "setup_s": setups, "warm_up_s": warm_up_s,
            "wall_s": _summary([p["wall_s"] for p in untraced]),
            "traced_wall_s": _summary([p["wall_s"] for p in traced_p]) if traced_p else None,
            "passes": self.passes,
            "failed_frac": self.failed / self.attempted,
            "failures": self.failures[:50],
        }
        return {"record": record, "result": {
            "correct": not self.failures, "attempted": self.attempted,
            "failed": self.failed, "metrics": metrics,
        }, "spans": tracer.spans}

    def close(self) -> None:
        """Stop Spark and wait until every process it started has ended."""
        from observe import descendants

        sampler = getattr(self, "sampler", None)
        if sampler is not None:
            sampler.stop()
        started = descendants(os.getpid())
        if self.spark is not None:
            self.spark.stop()
        pyspark = sys.modules.get("pyspark")
        gateway = pyspark.SparkContext._gateway if pyspark else None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)
        deadline = time.monotonic() + 30
        for pid in started:  # the Python worker daemon and workers exit after the JVM
            while _alive(pid) and time.monotonic() < deadline:
                time.sleep(0.1)
            if _alive(pid):
                os.kill(pid, signal.SIGKILL)
        shutil.rmtree(self.work, ignore_errors=True)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


def _corrupt(out: str) -> None:
    """Drop the largest stored parquet file of the pass."""
    files = [os.path.join(d, f) for d, _s, fs in os.walk(out) for f in fs
             if f.endswith(".parquet") and not os.path.islink(os.path.join(d, f))]
    os.remove(max(sorted(files), key=os.path.getsize))


def main(argv=None) -> int:
    args = _parse_args(argv)
    missing = [d for d in ("xjs", "jobs") if not os.path.isdir(os.path.join(ROOT, d))]
    if missing:
        print(f"benchmark: the program is not in this checkout (missing {missing})",
              file=sys.stderr)
        return 2
    runner = Runner(args)
    try:
        runner.environment()
        out = runner.run()
    finally:
        runner.close()
    os.makedirs(OUT, exist_ok=True)
    stem = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}-{runner.run_id}")
    with open(stem + ".json", "w") as fh:
        json.dump({**out["record"], "result": out["result"]}, fh, indent=1, default=str)
    if args.trace:
        with open(stem + ".spans.json", "w") as fh:
            json.dump(out["spans"], fh, indent=1)
    print("run record: " + json.dumps(out["record"], default=str, separators=(",", ":")))
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
