"""The benchmark's workloads: the phases of one pass, and their output checks.

A pass is a list of phases, each one call into a layer's public function
or one job entry point.  Every phase stores its result under the pass's
own fresh output directory; ``check`` then compares what was stored
against expectations computed once per fixture, outside the timed region.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import runpy
import sys
import duckdb

from fixtures import Fixture

N_EXPORT_SHARDS = 8


# ---------------------------------------------------------------------------
# helpers shared by both workloads
# ---------------------------------------------------------------------------


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def _parquet_glob(path: str) -> str:
    return os.path.join(path, "**", "*.parquet")


def digest(path: str, exclude: tuple[str, ...] = ()) -> str:
    """Order-independent content digest of a stored result.

    Parquet datasets hash their rows (doubles rounded to 6 places, so a
    different floating-point summation order is not a difference);
    other directories hash their files' bytes."""
    if any(f.endswith(".parquet") for _d, _s, fs in os.walk(path) for f in fs):
        con = duckdb.connect()
        try:
            src = f"read_parquet('{_parquet_glob(path)}', hive_partitioning = true)"
            described = con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()
            cols = [(name, typ) for name, typ, *_ in described if name not in exclude]
            exprs = ", ".join(
                f"round(\"{n}\", 6)" if t in ("DOUBLE", "FLOAT") else f"\"{n}\"" for n, t in cols
            )
            n, h = con.execute(f"SELECT count(*), sum(hash(row({exprs}))) FROM {src}").fetchone()
        finally:
            con.close()
        return f"{n}:{h}"
    sha = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        p = os.path.join(path, name)
        if os.path.isfile(p) and not name.startswith(("_", ".")):
            sha.update(name.encode())
            with open(p, "rb") as fh:
                sha.update(fh.read())
    return sha.hexdigest()


@contextlib.contextmanager
def _job_context(argv: list[str], stdout: io.StringIO):
    """Run a ``jobs/*.py`` entry point inside this process: its
    ``getOrCreate`` picks up the benchmark's session, and its closing
    ``spark.stop()`` is suppressed so the session outlives the job."""
    from pyspark.sql import SparkSession

    saved_argv, saved_stop = sys.argv, SparkSession.stop
    sys.argv = argv
    SparkSession.stop = lambda self: None
    try:
        with contextlib.redirect_stdout(stdout):
            yield
    finally:
        sys.argv, SparkSession.stop = saved_argv, saved_stop


def run_job(root: str, name: str, args: list[str]) -> dict:
    """Run ``jobs/<name>.py`` with ``args``; return its JSON summary line.
    A non-zero ``sys.exit`` raises, so the phase counts as failed."""
    out = io.StringIO()
    path = os.path.join(root, "jobs", f"{name}.py")
    try:
        with _job_context([path] + args, out):
            runpy.run_path(path, run_name="__main__")
    except SystemExit as e:
        if e.code not in (None, 0):
            raise RuntimeError(f"{name} exited with {e.code}: {out.getvalue()[-500:]}") from None
    lines = [ln for ln in out.getvalue().splitlines() if ln.startswith("{")]
    return json.loads(lines[-1]) if lines else {}


class Workload:
    """One workload: ``phases`` run in order in every pass."""

    name = ""
    #: run one untimed pass over the tiny inputs before timing
    warm_up = False

    def __init__(self, root: str, fx: Fixture, seed: int):
        self.root = root
        self.fx = fx
        self.seed = seed

    def prepare(self) -> None:
        """Untimed, cached per fixture: the expected results the checks use."""

    def compile(self, spark) -> None:
        """The set-up step that belongs to the program (plan compilation)."""

    def phases(self) -> list[tuple[str, object]]:
        raise NotImplementedError

    def check(self, out: str, infos: dict) -> dict[str, list[str]]:
        raise NotImplementedError

    def digests(self, out: str) -> dict[str, str]:
        raise NotImplementedError

    def n_docs(self) -> int:
        raise NotImplementedError

    def input_bytes(self) -> int:
        raise NotImplementedError

    def layer_metrics(self, spark, out: str, infos: dict, phase_trace: dict) -> dict:
        return {}


# ---------------------------------------------------------------------------
# validate: compile, checkpointed run, the five check classes, dynamic mode
# ---------------------------------------------------------------------------


class Validate(Workload):
    name = "validate"
    # Timed cold, the pass mixes the JIT's progress with the engine's
    # work and spread by more than 10% between runs; a warm-up over the
    # tiny inputs costs about as much as a cold pass saves.
    warm_up = True
    CHECKS = ("stats", "uniqueness", "referential", "drift", "monotonicity")

    @property
    def pages(self) -> str:
        return self.fx.path("pages")

    def prepare(self) -> None:
        exp_file = self.fx.path("expected.json")
        if not os.path.exists(exp_file):
            with open(exp_file + ".tmp", "w") as fh:
                json.dump(self._expected(), fh)
            os.rename(exp_file + ".tmp", exp_file)
        with open(exp_file) as fh:
            self.expected = json.load(fh)
        self.fx.props.update(self.expected["props"])

    def _expected(self) -> dict:
        """DuckDB recount of ``ORACLE_CHECKS`` over the materialized pages,
        and the pure-Python ``xjs.dynamic`` evaluator over events.props."""
        from xjs.dynamic import build_evaluator
        from xjs.dynamic_spark import PROPS_SCHEMA
        from xjs.flagship import ORACLE_CHECKS, oracle_verdicts_sql, oracle_violations_sql
        from xjs.frontend import compile_frontend

        cte = (f"webpages AS (SELECT *, CAST(html AS VARCHAR) AS html_str "
               f"FROM read_parquet('{_parquet_glob(self.pages)}'))")
        con = duckdb.connect()
        try:
            by_kw = con.execute(
                f"SELECT path, keyword, count(*) FROM ({oracle_violations_sql(cte)}) GROUP BY ALL"
            ).fetchall()
            verdicts = con.execute(
                f"SELECT partition_id, check_name, pass, n_checked, n_violations "
                f"FROM ({oracle_verdicts_sql(cte)})"
            ).fetchall()
            any_fail = " OR ".join(f"({c[4]})" for c in ORACLE_CHECKS)
            n_rows, n_bad = con.execute(
                f"WITH {cte} SELECT count(*), count(*) FILTER (WHERE {any_fail}) FROM webpages"
            ).fetchone()
            events = con.execute(
                f"SELECT event_id, props FROM read_parquet('{self.fx.path('events.parquet')}') "
                f"ORDER BY event_id").fetchall()
        finally:
            con.close()

        evaluate = build_evaluator(compile_frontend(PROPS_SCHEMA))
        dyn = []
        for eid, txt in events:
            try:
                doc = json.loads(txt)
            except ValueError:
                dyn.append([eid, "", "$malformed", "null"])
                continue
            for e in evaluate(doc):
                dyn.append([eid, ".".join(str(p) for p in e["path"]), e["keyword"],
                            json.dumps(e["value"], default=str)])
        return {
            "violations": sorted([p, k, n] for p, k, n in by_kw),
            "verdicts": sorted([int(p), c, bool(ok), int(a), int(b)]
                               for p, c, ok, a, b in verdicts),
            "dynamic": sorted(dyn),
            "props": {
                "violation_rate": round(n_bad / n_rows, 6),
                "n_violations": sum(n for _p, _k, n in by_kw),
                "dynamic_error_rate": round(len({d[0] for d in dyn}) / len(events), 6),
            },
        }

    def compile(self, spark) -> None:
        from xjs.flagship import compile_plan

        compile_plan(spark.read.parquet(self.pages))

    def phases(self):
        from pyspark.sql import functions as F

        from xjs.checkpoint import CheckpointedRun
        from xjs.checks import drift, monotonicity, referential, stats, uniqueness
        from xjs.dynamic_spark import PROPS_SCHEMA, dynamic_violations
        from xjs.flagship import compile_plan

        state = {}

        def pages(spark):
            return spark.read.parquet(self.pages)

        def plan_compile(spark, out):
            state["plan"] = compile_plan(pages(spark))
            return {"n_checks": len(state["plan"].checks)}

        def checkpoint_run(spark, out):
            rep = CheckpointedRun(spark, os.path.join(out, "checkpoint")).run(
                pages(spark), state["plan"])
            return {"partitions_processed": rep.partitions_processed,
                    "partitions_total": rep.partitions_total}

        def write(df, out, name):
            df.write.mode("overwrite").parquet(os.path.join(out, name))
            return {}

        def check_stats(spark, out):
            wp = pages(spark).withColumn("text_len", F.length("text")).withColumn(
                "html_bytes", F.octet_length("html"))
            return write(stats.column_stats(
                wp, ["partition_id"], numeric_cols=["text_len", "html_bytes"],
                categorical_cols=["lang"], timestamp_cols=["warc_ts"], mode="exact"),
                out, "stats")

        def check_uniqueness(spark, out):
            return write(uniqueness.duplicate_key_evidence(pages(spark), "url", "doc_id"),
                         out, "uniqueness")

        def check_referential(spark, out):
            wp = pages(spark).withColumn("domain", referential.domain_of(F.col("url")))
            dim = referential.domain_allowlist(spark, self.fx.root)
            return write(referential.missing_keys(wp, dim, "domain", "domain")
                         .select("url", "domain", "partition_id"), out, "referential")

        def check_drift(spark, out):
            h = drift.histogram(pages(spark), F.length("text"), "partition_id",
                                drift.TEXT_LEN_LO, drift.TEXT_LEN_HI, drift.N_BUCKETS)
            base = h.groupBy("bucket").agg(F.sum("n").alias("n"))
            return write(drift.psi(h, base, "partition_id", drift.N_BUCKETS), out, "drift")

        def check_monotonicity(spark, out):
            ooo = monotonicity.out_of_order(pages(spark), "source", "doc_id", "warc_ts")
            return write(ooo.filter(F.col("n_out_of_order") > 0), out, "monotonicity")

        def dynamic(spark, out):
            ev = spark.read.parquet(self.fx.path("events.parquet"))
            return write(dynamic_violations(ev, PROPS_SCHEMA, "props", "event_id"),
                         out, "dynamic")

        return [
            ("plan.compile", plan_compile),
            ("checkpoint.run", checkpoint_run),
            ("checks.stats", check_stats),
            ("checks.uniqueness", check_uniqueness),
            ("checks.referential", check_referential),
            ("checks.drift", check_drift),
            ("checks.monotonicity", check_monotonicity),
            ("dynamic_spark", dynamic),
        ]

    def check(self, out, infos):
        bad: dict[str, list[str]] = {}
        ck = os.path.join(out, "checkpoint")
        con = duckdb.connect()
        try:
            got = sorted(list(r) for r in con.execute(
                f"SELECT path, keyword, count(*) FROM read_parquet("
                f"'{_parquet_glob(os.path.join(ck, 'violations'))}', hive_partitioning = true) "
                f"GROUP BY ALL").fetchall())
            manifest = con.execute(
                f"SELECT partition_id, check_name, metrics_json, n_checked, n_violations, status "
                f"FROM read_parquet('{_parquet_glob(os.path.join(ck, 'manifest'))}')").fetchall()
            verdicts = sorted([int(p), c, bool(json.loads(m)["pass"]), int(a), int(b)]
                              for p, c, m, a, b, status in manifest if status == "done")
            dyn = sorted(list(r) for r in con.execute(
                f"SELECT id, path, keyword, value_json FROM read_parquet("
                f"'{_parquet_glob(os.path.join(out, 'dynamic'))}')").fetchall())
        finally:
            con.close()
        if got != self.expected["violations"]:
            bad.setdefault("checkpoint.run", []).append(
                f"violation counts per (path, keyword) differ from the DuckDB recount: {got}")
        if verdicts != self.expected["verdicts"]:
            bad.setdefault("checkpoint.run", []).append("verdicts differ from the DuckDB recount")
        info = infos.get("checkpoint.run") or {}
        if info.get("partitions_processed") != info.get("partitions_total"):
            bad.setdefault("checkpoint.run", []).append(f"not every partition processed: {info}")
        if dyn != self.expected["dynamic"]:
            bad.setdefault("dynamic_spark", []).append(
                f"{len(dyn)} dynamic violations, the Python evaluator gives "
                f"{len(self.expected['dynamic'])}")
        return bad

    def digests(self, out):
        ck = os.path.join(out, "checkpoint")
        d = {
            "checkpoint.run": digest(os.path.join(ck, "violations")) + "/" + digest(
                os.path.join(ck, "manifest"), exclude=("run_id", "completed_ts")),
            "dynamic_spark": digest(os.path.join(out, "dynamic")),
        }
        for c in self.CHECKS:
            d[f"checks.{c}"] = digest(os.path.join(out, c))
        return d

    def n_docs(self):
        return self.fx.props["n_docs"] + self.fx.props["n_events"]

    def input_bytes(self):
        return dir_bytes(self.pages) + os.path.getsize(self.fx.path("events.parquet"))

    def layer_metrics(self, spark, out, infos, phase_trace):
        ck = phase_trace.get("checkpoint.run", {})
        scanned = ck.get("prefilter_scanned", 0)
        dyn = phase_trace.get("dynamic_spark", {})
        return {
            "plan.compile_s": phase_trace.get("plan.compile", {}).get("wall_s", 0.0),
            "checkpoint.run_s": ck.get("wall_s", 0.0),
            "checkpoint.partitions_processed": infos["checkpoint.run"]["partitions_processed"],
            "runtime.violating_row_ratio":
                ck.get("prefilter_rows", 0) / scanned if scanned else 0.0,
            **{f"checks.{c}.wall_s": phase_trace.get(f"checks.{c}", {}).get("wall_s", 0.0)
               for c in self.CHECKS},
            "dynamic_spark.wall_s": dyn.get("wall_s", 0.0),
            "dynamic_spark.tasks": dyn.get("max_stage_tasks", 0),
        }


# ---------------------------------------------------------------------------
# crawl_day: WET shards -> ingest_warc -> curate_corpus -> export_shards
# ---------------------------------------------------------------------------


class CrawlDay(Workload):
    # Timed cold, as each spark-submit of the chain runs.  Its ~110 Spark
    # jobs make a warm-up as long as the cold pass itself, which the
    # benchmark's run-time budget does not hold.
    name = "crawl_day"

    def phases(self):
        from pyspark.sql import functions as F

        fx = self.fx

        def ingest(spark, out):
            return run_job(self.root, "ingest_warc", [
                "--input", fx.path("wet"), "--out", os.path.join(out, "ingest"),
                "--history-urls", fx.path("history.parquet"),
                "--retract-urls", fx.path("retract.parquet"),
                "--history-out", os.path.join(out, "state", "urls"),
                "--bloom-state-out", os.path.join(out, "state", "bloom"),
            ])

        def documents(spark, out):
            # the novel slice in the documents shape curate_corpus reads
            novel = spark.read.parquet(os.path.join(out, "ingest", "novel"))
            docs = novel.select(
                F.regexp_extract("record_id", r"doc:(\d+)>", 1).cast("long").alias("doc_id"),
                "text", "lang",
                F.regexp_extract("url", r"^https?://([^./]+)\.", 1).alias("source"),
                F.length("text").cast("long").alias("n_chars"),
            )
            path = os.path.join(out, "day", "documents.parquet")
            docs.write.mode("overwrite").parquet(path)
            return {"n_docs": spark.read.parquet(path).count()}

        def curate(spark, out):
            return run_job(self.root, "curate_corpus", [
                "--input", os.path.join(out, "day"), "--out", os.path.join(out, "curate"),
                "--gopher-gate", "--c4-clean",
            ])

        def export(spark, out):
            src = os.path.join(out, "export_in")
            os.makedirs(src)
            os.symlink(os.path.join(out, "curate", "corpus"),
                       os.path.join(src, "documents.parquet"))
            return run_job(self.root, "export_shards", [
                "--input", src, "--out", os.path.join(out, "export"),
                "--n-shards", str(N_EXPORT_SHARDS), "--seed", str(self.seed),
            ])

        return [
            ("jobs.ingest_warc", ingest),
            ("glue.documents", documents),
            ("jobs.curate_corpus", curate),
            ("jobs.export_shards", export),
        ]

    def check(self, out, infos):
        p = self.fx.props
        bad: dict[str, list[str]] = {}

        def expect(phase, what, got, want):
            if got != want:
                bad.setdefault(phase, []).append(f"{what}: got {got}, expected {want}")

        ing = infos.get("jobs.ingest_warc") or {}
        expect("jobs.ingest_warc", "conversion records", ing.get("by_type", {}).get("conversion"),
               p["n_pages"])
        expect("jobs.ingest_warc", "clean", ing.get("n_clean"), p["n_clean"])
        expect("jobs.ingest_warc", "quarantine",
               ing.get("quarantine"), {"missing_uri": p["missing_uri"], "bad_date": p["bad_date"]})
        expect("jobs.ingest_warc", "rows conserved",
               ing.get("n_clean", 0) + sum(ing.get("quarantine", {}).values()),
               ing.get("by_type", {}).get("conversion"))
        expect("jobs.ingest_warc", "novel", ing.get("n_novel"), p["n_novel"])
        expect("jobs.ingest_warc", "retracted", ing.get("n_retracted"), p["n_retracted"])
        expect("jobs.ingest_warc", "unknown retractions", ing.get("n_retract_unknown"),
               p["n_retract_unknown"])
        expect("jobs.ingest_warc", "registry after the day", ing.get("n_history_urls"),
               p["n_history_out"])
        doc = infos.get("glue.documents") or {}
        expect("glue.documents", "documents", doc.get("n_docs"), p["n_novel"])
        cur = infos.get("jobs.curate_corpus") or {}
        expect("jobs.curate_corpus", "input documents", cur.get("input_docs"), p["n_novel"])
        expect("jobs.curate_corpus", "kept + rejects == input", cur.get("accounted"), True)
        exp = infos.get("jobs.export_shards") or {}
        expect("jobs.export_shards", "exported documents", exp.get("n_docs"), cur.get("kept"))
        expect("jobs.export_shards", "shards", exp.get("n_shards"), N_EXPORT_SHARDS)

        # the same accounting read back from what is stored
        def rows(*parts):
            glob = _parquet_glob(os.path.join(out, *parts))
            return con.execute(f"SELECT count(*) FROM read_parquet('{glob}')").fetchone()[0]

        con = duckdb.connect()
        try:
            expect("jobs.ingest_warc", "stored clean + quarantine",
                   rows("ingest", "clean") + rows("ingest", "quarantine"),
                   p["n_clean"] + p["missing_uri"] + p["bad_date"])
            expect("jobs.ingest_warc", "stored novel", rows("ingest", "novel"), p["n_novel"])
            expect("jobs.curate_corpus", "stored corpus + rejects",
                   rows("curate", "corpus") + rows("curate", "rejects"), p["n_novel"])
            expect("jobs.export_shards", "stored shard rows", rows("export", "shards"),
                   cur.get("kept"))
        finally:
            con.close()
        return bad

    def digests(self, out):
        j = os.path.join
        return {
            "jobs.ingest_warc": "/".join(digest(j(out, *d)) for d in (
                ("ingest", "clean"), ("ingest", "quarantine"), ("ingest", "novel"),
                ("state", "urls"), ("state", "bloom"))),
            "glue.documents": digest(j(out, "day")),
            "jobs.curate_corpus": digest(j(out, "curate", "corpus")) + "/" + digest(
                j(out, "curate", "rejects")),
            "jobs.export_shards": digest(j(out, "export", "shards")) + "/" + digest(
                j(out, "export", "manifest")),
        }

    def n_docs(self):
        return self.fx.props["n_pages"]

    def input_bytes(self):
        return (dir_bytes(self.fx.path("wet")) + os.path.getsize(self.fx.path("history.parquet"))
                + os.path.getsize(self.fx.path("retract.parquet")))

    def layer_metrics(self, spark, out, infos, phase_trace):
        from xjs.pipeline.bloom import DEFAULT_K, bloom_build, bloom_probe

        # bloom survivors of today's clean urls against the retraction-
        # adjusted registry, recomputed untimed with the layer's own
        # functions; ingest_warc builds the filter with 1 << 23 bits
        clean = spark.read.parquet(os.path.join(out, "ingest", "clean"))
        hist = spark.read.parquet(self.fx.path("history.parquet")).join(
            spark.read.parquet(self.fx.path("retract.parquet")), "url", "left_anti")
        n_bits = 1 << 23
        bloom = bloom_build(hist, "url", n_bits=n_bits, k=DEFAULT_K)
        survivors = bloom_probe(clean, "url", bloom, n_bits=n_bits, k=DEFAULT_K) \
            .filter("bloom_maybe").count()
        present = self.fx.props["n_clean"] - self.fx.props["n_novel"]
        st = os.path.join(out, "state")
        m = {
            f"jobs.{j}.wall_s": phase_trace.get(f"jobs.{j}", {}).get("wall_s", 0.0)
            for j in ("ingest_warc", "curate_corpus", "export_shards")
        }
        m.update({
            "glue.documents.wall_s": phase_trace.get("glue.documents", {}).get("wall_s", 0.0),
            "pipeline.bloom.verify_hit_ratio": present / survivors if survivors else 0.0,
            "pipeline.export.write_mb":
                phase_trace.get("jobs.export_shards", {}).get("write_mb", 0.0),
            "pipeline.bloom.state_mb": dir_bytes(os.path.join(st, "bloom")) / 2**20,
        })
        return m


WORKLOADS = {w.name: w for w in (Validate, CrawlDay)}
