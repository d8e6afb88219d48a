"""The benchmark's workloads. Each drives the engine only through its
public calls and has the same life cycle:

  prepare()      make or reuse the seeded inputs (no Spark)
  open(spark)    set-up: start-of-run input open
  warmup(spark)  untimed work that warms every layer; returns problems
                 with its outputs, or None when it is not checked
  restore()      put back the state an op starts from (untimed)
  op(spark, tr)  the timed op; ``tr`` records spans when tracing
  check(res)     output check of one op, outside the timed interval
  layers(...)    per-layer metrics of the traced op
"""

from __future__ import annotations

import datetime
import json
import os
import shutil

from perfbench import checks, fixtures, trace

PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


def _pins(workload: str, seed: int) -> dict | None:
    if not os.path.exists(PINS):
        return None
    with open(PINS) as f:
        return json.load(f).get(workload, {}).get(str(seed))


def cache_mb(spark) -> float:
    """Memory + disk bytes of every cached RDD block, in MB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


class IncrementalBatch:
    """Resume a saved checkpoint and run one batch, as jobs/run_pipeline.py
    does on its second and later runs: resume_filter -> run_pipeline(
    sessionizer=resume_sessionize) -> write_sinks -> save_state ->
    TableIO.merge(history) -> compact."""

    name = "incremental_batch"
    # per-layer metric prefixes this workload measures
    LAYERS = ("plan.", "parse.", "sessionize.", "enrich.", "reports.",
              "write_sinks.", "checkpoint.", "tables.", "spark.", "trace.",
              "process.")

    def __init__(self, seed: int, work: str):
        from webalizer_spark import EngineConfig

        self.seed = seed
        self.work = work
        self.cfg = EngineConfig()
        self.out = os.path.join(work, "run", "out")
        self.ckpt_dir = os.path.join(work, "run", "ckpt")
        self.pinned = _pins(self.name, seed)

    # -- inputs -------------------------------------------------------------
    def prepare(self) -> dict:
        self.fixture, self.params = fixtures.transcripts(
            os.path.join(self.work, "fixtures"), self.seed)
        # the resumed path never takes the skew branch; a conv at or over
        # the threshold would make this workload something else
        hottest = fixtures.check_skew_side(
            self.fixture, self.cfg.hot_conv_threshold, want_skew=False)
        self.cutoff = fixtures.cutoff_ts(self.fixture)
        self.pristine = os.path.join(self.work, "first_batch")
        return {"fixture": os.path.basename(self.fixture),
                "gen_seed": self.params.seed, "hottest_conv": hottest,
                "cutoff": self.cutoff.isoformat()}

    def _read(self, spark):
        from webalizer_spark.sources.tables import TableIO

        io = TableIO(spark, base_path=self.fixture)
        return io.read("transcripts"), {n: io.read(n) for n in fixtures.DIMS}

    def warmup(self, spark) -> list[str]:
        """The first batch (rows up to the cutoff) through the CLI's first
        run: run_pipeline -> write_sinks -> save_state -> history merge.
        It leaves the checkpoint every timed op resumes from, and warms
        every layer but the resume path. Returns output problems."""
        from pyspark.sql import functions as F

        from webalizer_spark.plans.checkpoint import (CheckpointPaths,
                                                      load_manifest,
                                                      save_state)
        from webalizer_spark.plans.pipeline import run_pipeline, write_sinks

        shutil.rmtree(self.pristine, ignore_errors=True)
        ckpt = CheckpointPaths(os.path.join(self.pristine, "ckpt"))
        out = os.path.join(self.pristine, "out")
        res = run_pipeline(spark, self.tr.filter(F.col("ts") <= self.cutoff),
                           self.dims, cfg=self.cfg)
        counts = write_sinks(res, out)
        save_state(res.enriched, ckpt)
        self._merge_history(spark, ckpt, out)
        res.unpersist()

        man = load_manifest(ckpt)
        self.saved_rows = int(man["total_rows"])
        self.conv_state = ckpt.conv_state
        wm = datetime.datetime.fromisoformat(man["watermark"])
        self.skipped, self.new_rows = fixtures.split_counts(self.fixture, wm)
        old_rows = fixtures.split_counts(self.fixture, self.cutoff)[0]
        return checks.check_conservation(
            counts, checks.sink_fingerprints(out), old_rows)

    @staticmethod
    def _merge_history(spark, ckpt, out: str) -> None:
        # jobs/run_pipeline.py's history step: month rows re-aggregated
        # from the cumulative daily state, upserted by month
        from pyspark.sql import functions as F

        from webalizer_spark.sources.tables import TableIO

        hist = (spark.read.parquet(ckpt.daily_state)
                .groupBy(F.date_trunc("month", "day_ts").alias("month_ts"))
                .agg(*[F.sum(c).alias(c)
                       for c in ["hits", "files", "pages", "errors",
                                 "bytes", "visits"]]))
        TableIO(spark, base_path=out).merge(hist, "history", ["month_ts"])

    def restore(self) -> None:
        shutil.rmtree(os.path.join(self.work, "run"), ignore_errors=True)
        shutil.copytree(os.path.join(self.pristine, "ckpt"), self.ckpt_dir)
        shutil.copytree(os.path.join(self.pristine, "out", "history"),
                        os.path.join(self.out, "history"))

    def open(self, spark) -> None:
        self.tr, self.dims = self._read(spark)
        self.tr.select("ts").count()

    @property
    def input_rows(self) -> int:
        return self.new_rows

    # -- the op -------------------------------------------------------------
    def op(self, spark, tr: trace.Tracer) -> dict:
        from webalizer_spark.plans.checkpoint import (CheckpointPaths,
                                                      compact, resume_filter,
                                                      resume_sessionize,
                                                      save_state)
        from webalizer_spark.plans.pipeline import run_pipeline, write_sinks

        ckpt = CheckpointPaths(self.ckpt_dir)
        sess: list = []
        timeout = self.cfg.visit_timeout_s

        def sessionizer(df):
            out = resume_sessionize(df, ckpt, timeout)
            if tr.enabled:
                # traced run only: a cache boundary gives sessionize a
                # span of its own, apart from enrich
                out = out.persist()
                sess.append(out)
            return out

        stats: dict = {}
        with tr.span("op"):
            with tr.span("checkpoint.resume"):
                batch = resume_filter(self.tr, ckpt)
            with tr.span("plan"):
                res = run_pipeline(spark, batch, self.dims, cfg=self.cfg,
                                   sessionizer=sessionizer)
            if tr.enabled:
                with tr.span("parse"):
                    res.parsed.count()
                stats["parse_cache_mb"] = cache_mb(spark)
                with tr.span("sessionize"):
                    sess[0].count()
                base = cache_mb(spark)
                with tr.span("enrich"):
                    res.enriched.count()
                stats["spine_cache_mb"] = cache_mb(spark) - base
            with tr.span("write_sinks"):
                counts = write_sinks(res, self.out)
            with tr.span("checkpoint.save"):
                manifest = save_state(res.enriched, ckpt)
            with tr.span("tables.history_merge"):
                self._merge_history(spark, ckpt, self.out)
            with tr.span("checkpoint.compact"):
                compact(ckpt, keep_last=1)
            res.unpersist()
            for df in sess:
                df.unpersist()
        return {"counts": counts, "manifest": manifest, **stats}

    # -- output check -------------------------------------------------------
    def check(self, res: dict) -> tuple[list[str], float]:
        """Problems with one op's outputs, and the MB it wrote."""
        fps = checks.sink_fingerprints(self.out)
        errs = checks.check_conservation(res["counts"], fps, self.new_rows)
        errs += checks.check_resumed_sessions(
            os.path.join(self.out, "by_role"), self.conv_state,
            self.cfg.visit_timeout_s)
        man = res["manifest"]
        if man["total_rows"] != self.saved_rows + fps["by_role"][0]:
            errs.append(f"manifest total_rows {man['total_rows']} != "
                        f"{self.saved_rows} saved + {fps['by_role'][0]} new")
        self.last_fps = fps
        errs += checks.compare_pins(fps, self.pinned, "sink")
        state = os.path.join(self.ckpt_dir, f"v={man['version']}")
        res["state_mb"] = checks.dir_bytes(state) / 1e6
        written = checks.dir_bytes(self.out) + checks.dir_bytes(state)
        return errs, written / 1e6

    # -- per-layer metrics ---------------------------------------------------
    def layers(self, spans, by_span, sql, res) -> dict:
        idx = {s.name: i for i, s in enumerate(spans)}
        dur = {s.name: s.end - s.start for s in spans}
        selft = trace.self_times(spans)
        ws = by_span[idx["write_sinks"]]
        rep = [j for j in ws
               if "/reports/" in sql.get(j.sql_id, "")]
        sink = [j for j in ws if j not in rep]
        rep_f, sink_f = trace.fold(rep), trace.fold(sink)
        busy = rep_f["run_s"] + sink_f["run_s"]
        share = rep_f["run_s"] / busy if busy else 0.0
        ws_self = selft[idx["write_sinks"]]
        parse = trace.fold(by_span[idx["parse"]])
        sess_jobs = by_span[idx["sessionize"]]
        sess = trace.fold(sess_jobs)
        sinks_mb = sum(checks.dir_bytes(os.path.join(self.out, d))
                       for d in ["errors", "tool_calls", "by_role",
                                 "reports"])
        return {
            "plan.build_s": dur["plan"],
            "parse.s": dur["parse"],
            "parse.cpu_s": parse["executor_cpu_s"],
            "parse.rows_bad": int(res["counts"]["errors"]),
            "parse.cache_mb": res["parse_cache_mb"],
            "sessionize.s": dur["sessionize"],
            "sessionize.shuffle_mb": sess["shuffle_mb"],
            "sessionize.spill_mb": sess["spill_mb"],
            "sessionize.task_skew": trace.task_skew(sess_jobs),
            "enrich.s": dur["enrich"],
            "enrich.spine_cache_mb": res["spine_cache_mb"],
            "reports.s": ws_self * share,
            "reports.jobs": rep_f["jobs"],
            "reports.shuffle_mb": rep_f["shuffle_mb"],
            "write_sinks.s": ws_self * (1 - share),
            "write_sinks.jobs": sink_f["jobs"],
            "write_sinks.mb": sinks_mb / 1e6,
            "write_sinks.files": checks.data_files(self.out),
            "checkpoint.resume_s": dur["checkpoint.resume"],
            "checkpoint.save_s": dur["checkpoint.save"],
            "checkpoint.compact_s": dur["checkpoint.compact"],
            "checkpoint.state_mb": res["state_mb"],
            "checkpoint.rows_skipped": self.skipped,
            "tables.history_merge_s": dur["tables.history_merge"],
        }


class Queries:
    """One warm pass of the bench.HEADLINE queries, each result collected,
    on seeded tables at the testdata sf0.01 sizes.

    The warm-up runs the same queries on the same tables, one per cpu at
    a time: it pays class loading, code generation and most JIT in about
    25 s, where a sequential pass takes about 40 s. The timed pass after
    it reads about 24 s, against about 19 s once fully warm and about
    44 s cold."""

    name = "queries_sf001"
    LAYERS = ("query.", "spark.", "trace.", "process.")

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.pinned = _pins(self.name, seed)

    def prepare(self) -> dict:
        import bench
        from webalizer_spark.queries import (ORACLE, QUERIES, UNGRADED,
                                             UNGRADED_ORACLE)

        self.names = list(bench.HEADLINE)
        allq = {**UNGRADED, **QUERIES}
        self.fns = {n: allq[n] for n in self.names}
        oracle = {**UNGRADED_ORACLE, **ORACLE}
        self.oracle = {n: oracle[n] for n in self.names}
        self.data = fixtures.query_tables(os.path.join(self.work, "fixtures"),
                                          self.seed)
        self.input_rows = fixtures.table_rows(self.data,
                                              fixtures.QUERY_TABLES)
        return {"fixture": os.path.basename(self.data)}

    def open(self, spark) -> None:
        for t in fixtures.QUERY_TABLES:
            spark.read.parquet(os.path.join(self.data, f"{t}.parquet")).schema

    def warmup(self, spark) -> None:
        """Unchecked: its results are dropped, and the timed pass runs
        the same queries on the same tables and is checked."""
        from concurrent.futures import ThreadPoolExecutor

        def one(n):
            self.fns[n](spark, self.data).toArrow()

        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as ex:
            list(ex.map(one, self.names))

    def restore(self) -> None:
        pass

    def op(self, spark, tr: trace.Tracer) -> dict:
        with tr.span("op"):
            tables = {}
            for n in self.names:
                with tr.span(f"query.{n}"):
                    tables[n] = self.fns[n](spark, self.data).toArrow()
        return {"tables": tables}

    def check(self, res: dict) -> tuple[list[str], float]:
        """Each result equals its DuckDB oracle's, canonically, and its
        pin; MB is the collected size of the results."""
        errs, fps, nbytes = [], {}, 0
        con = checks.oracle_connection(self.data, fixtures.QUERY_TABLES)
        try:
            for n, tbl in res["tables"].items():
                fps[n] = checks.fingerprint_rows(*checks.canon_table(tbl))
                nbytes += tbl.nbytes
                errs += checks.check_query(n, tbl, con, self.oracle[n])
        finally:
            con.close()
        self.last_fps = fps
        return errs + checks.compare_pins(fps, self.pinned, "query"), \
            nbytes / 1e6

    def layers(self, spans, by_span, sql, res) -> dict:
        return {s.name + ".s": s.end - s.start for s in spans
                if s.name.startswith("query.")}


WORKLOADS = {w.name: w for w in (IncrementalBatch, Queries)}
