"""The workloads. Each one:

* ``setup(spark)`` has the side process generate its seeded inputs and
  commit them to parquet, then loads them (timed as set-up, never as a
  pass);
* ``restore()`` puts committed state back before a pass (untimed);
* ``run_pass(tracer)`` is one timed pass of calls into the program's
  public functions; it returns what the check needs;
* ``check(result)`` compares that result with DuckDB in the side process
  (untimed) and returns a list of failures; ``final_check(spark)`` runs
  once per run;
* ``probe(spark, tracer, passes)`` runs only in a traced run and returns
  the per-layer metrics of the layers the workload exercises.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

import tracing

from pyradiomics_spark.config import ExtractionSettings
from pyradiomics_spark.operators.features import extract_features


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def _batch_rows(spark) -> int:
    """Rows per Arrow batch the session hands to Python."""
    return int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _extraction_layers(k: dict, passes_run_s: float, passes_cpu_s: float,
                       n_passes: int) -> dict:
    """Per-layer metrics of one extraction from the kernel timer ``k``
    (one corpus pass) and the executor totals of the traced passes."""
    sec = k["seconds"]
    compute = sum(sec.values())
    run_s = passes_run_s / max(n_passes, 1)
    m = {f"kernels.{name}_s": sec[name] for name in (
        "ragged", "guard", "discretize", "firstorder", "glcm", "runs",
        "ngtdm", "gldm", "seqshape")}
    m.update({
        "text.tokenize_s": sec["tokenize"],
        "text.zero_copy_ratio": k["zero_copy"] / max(k["batches"], 1),
        "kernels.tokens": k["tokens"],
        "features.executor_run_s": run_s,
        "features.executor_cpu_s": passes_cpu_s / max(n_passes, 1),
        "features.arrow_out_s": sec["arrow_out"],
        "features.pandas_handoff_s": sec["pandas_handoff"],
        "features.boundary_s": run_s - compute,
    })
    return m


def _slow_docs(table: pa.Table) -> int:
    """Documents holding a byte pair the tokenizer treats as a possible
    unicode space (lead byte C2, E1, E2 or E3 as listed in
    ``functions.text``): U+0085, U+00A0, U+1680-16BF, U+2000-207F,
    U+3000-303F."""
    import pyarrow.compute as pc

    hit = pc.match_substring_regex(
        table.column("text"),
        r"[\x{85}\x{a0}\x{1680}-\x{16bf}\x{2000}-\x{207f}\x{3000}-\x{303f}]")
    return int(pc.sum(pc.cast(hit, pa.int64())).as_py() or 0)


class Extract:
    """Full-feature extraction, ``original`` image type, ASCII + Latin-1."""

    name = "extract"
    item = "feature vectors"
    n_docs = 16000
    sample = 16

    def __init__(self, seed: int, work: str, cores: int, side):
        self.seed, self.work, self.cores, self.side = seed, work, cores, side
        self.settings = ExtractionSettings()
        self.path = os.path.join(work, "pages")
        self.expected = None

    def setup(self, spark) -> dict:
        spark.catalog.clearCache()          # the previous set-up's input
        props = self.side.call("inputs.write_extract", self.seed,
                               self.n_docs, self.path, 2 * self.cores)
        self.df = spark.read.parquet(self.path).cache()
        self.df.count()
        self.partitions = self.df.rdd.getNumPartitions()
        return {**props, "partitions": self.partitions}

    def restore(self) -> None:
        pass

    def run_pass(self, tr):
        obs = Observation()
        with tr.span("extract"):
            out = extract_features(self.df, settings=self.settings)
            _noop(out.observe(
                obs, F.count(F.lit(1)).alias("rows"),
                F.sum("diag_n_tokens").alias("tokens"),
                F.min("firstorder_Minimum").alias("min"),
                F.max("firstorder_Maximum").alias("max"),
                F.sum("firstorder_Mean").alias("mean_sum")))
        return self.n_docs, obs.get

    def check(self, got: dict) -> list:
        if self.expected is None:
            self.expected = self.side.call("oracle.extraction_expected",
                                           self.path)
        e, bad = self.expected, []
        for f, want in (("rows", e["docs"]), ("tokens", e["tokens"]),
                        ("min", e["min"]), ("max", e["max"])):
            if got[f] != want:
                bad.append(f"{f} {got[f]} != {want}")
        if not _close(got["mean_sum"], e["mean_sum"]):
            bad.append(f"sum of firstorder mean {got['mean_sum']} != "
                       f"{e['mean_sum']}")
        return bad

    def final_check(self, spark) -> list:
        """Per-document diag_n_tokens and firstorder min/max/mean for
        every snapshot of a seeded sample of urls."""
        s = self.side.call("oracle.sample_expected", self.path, self.seed,
                           self.sample)
        want = {(r[0], r[1]): tuple(r[2:]) for r in s["rows"]}
        rows = extract_features(
            self.df.where(F.col("url").isin(s["urls"])),
            settings=self.settings
        ).select(
            "url", F.unix_micros("warc_ts").alias("ts"), "diag_n_tokens",
            "firstorder_Minimum", "firstorder_Maximum",
            "firstorder_Mean").collect()
        bad = [] if len(rows) == len(want) else [
            f"sample rows {len(rows)} != {len(want)}"]
        for r in rows:
            n, mn, mx, mean = want.get((r.url, r.ts), (None,) * 4)
            if (r.diag_n_tokens != n or r.firstorder_Minimum != mn
                    or r.firstorder_Maximum != mx
                    or not _close(r.firstorder_Mean, mean)):
                bad.append(f"sample doc {r.url}@{r.ts} differs")
        return bad

    def probe(self, spark, tr, passes: int) -> dict:
        st = tracing.stage_sums(tracing.stage_records(spark.sparkContext),
                              lambda d: d == "extract")
        table = pq.read_table(self.path)
        k = tracing.time_kernels(
            tracing.arrow_batches(table, self.partitions, _batch_rows(spark)),
            self.settings)
        m = _extraction_layers(k, st["run_s"], st["cpu_s"], passes)
        m["text.slow_docs"] = _slow_docs(table)
        return m


class PitRefresh:
    """Refresh a committed feature table of a crawl whose text carries
    web typography (1 in 20 documents) with held-back snapshots, then
    serve a daily cut grid point-in-time and commit it."""

    name = "pit_refresh"
    item = "served cuts"
    n_docs = 3000
    typo_share = 0.05
    #: Held back from the base crawl: the newest share by timestamp plus a
    #: share of older, late-arriving snapshots.
    holdback = 0.10
    late = 0.02
    #: Share of days kept in the daily cut grid (the gaps make sessions).
    cut_keep = 0.7
    gap_s = 1.5 * 86400
    lag_col = "firstorder_Mean"
    #: The served feature view: one feature per texture class.
    view = ("url", "warc_ts", "diag_n_tokens", "firstorder_Mean",
            "firstorder_Entropy", "glcm_Contrast", "glrlm_RunEntropy",
            "glszm_ZoneEntropy", "ngtdm_Coarseness", "gldm_DependenceEntropy")

    def __init__(self, seed: int, work: str, cores: int, side):
        from pyradiomics_spark.plans.pipeline import FeaturePipeline

        self.seed, self.work, self.cores, self.side = seed, work, cores, side
        self.pipe = FeaturePipeline(ExtractionSettings())
        self.paths = {name: os.path.join(work, name) for name in (
            "pages", "base", "increment", "cuts")}
        p = lambda name: os.path.join(work, name)  # noqa: E731
        self.ck0, self.ck, self.serve_path = p("ck0"), p("ck"), p("served")

    def setup(self, spark) -> dict:
        props = self.side.call(
            "inputs.write_pit", self.seed, self.n_docs, self.typo_share,
            self.holdback, self.late, self.cut_keep, self.paths,
            2 * self.cores)
        # the base crawl's feature table, committed by the program itself
        self.pipe.run_resumable(spark.read.parquet(self.paths["base"]),
                                _fresh(self.ck0))
        self.pages = spark.read.parquet(self.paths["pages"])
        self.cuts = spark.read.parquet(self.paths["cuts"])
        self.n_cuts = props["cuts"]
        self.n_held = props["held_back"]
        return props

    def restore(self) -> None:
        shutil.copytree(self.ck0, _fresh(self.ck))
        _fresh(self.serve_path)

    def _asof(self, feats):
        from pyradiomics_spark.operators.asof import asof_join

        return asof_join(self.cuts, feats.select(*self.view), on="url",
                         left_ts="cut_ts", right_ts="warc_ts")

    def _windows(self, served):
        from pyradiomics_spark.operators.windows import (ffill, sessionize,
                                                          with_lag_lead)

        served = sessionize(served, "url", "cut_ts", self.gap_s)
        served = with_lag_lead(served, "url", "cut_ts", [self.lag_col])
        return ffill(served, "url", "cut_ts", [f"{self.lag_col}_lag1"])

    def run_pass(self, tr):
        from pyradiomics_spark.operators.leakage import audit_cut
        from pyradiomics_spark.sources.sinks import append_stage

        with tr.span("refresh"):
            feats = self.pipe.run_resumable(self.pages, self.ck)
        with tr.span("serve"):
            with tr.span("asof"):
                served = self._asof(feats)
            with tr.span("windows"):
                served = self._windows(served)
            with tr.span("leakage"):
                violations = audit_cut(served, "cut_ts", "warc_ts")
            with tr.span("sinks"):
                append_stage(served, self.serve_path, ts_col="cut_ts")
        return self.n_cuts, violations

    def check(self, violations: dict) -> list:
        bad = []
        if any(violations.values()):
            bad.append(f"audit_cut reports leakage {violations}")
        k = self.side.call("oracle.refreshed_keys_mismatch", self.ck,
                           self.paths["pages"])
        if not (k["rows"] == k["distinct"] == k["pages"]
                and k["extra"] == k["missing"] == 0):
            bad.append(f"refreshed key set differs from pages: {k}")
        lin = self.side.call("oracle.lineage_rows", self.ck)
        if lin != k["pages"]:
            bad.append(f"lineage rows {lin} != committed rows {k['pages']}")
        s = self.side.call("oracle.served_mismatch", self.serve_path,
                           self.paths["cuts"], self.paths["pages"], self.gap_s)
        if s["served"] != s["cuts"] or s["asof_mismatch"] or s["leaks"] \
                or s["session_mismatch"]:
            bad.append(f"served cuts differ from DuckDB: {s}")
        return bad

    def final_check(self, spark) -> list:
        return []

    def probe(self, spark, tr, passes: int) -> dict:
        """Each layer materialized on its own, on the same inputs."""
        from pyradiomics_spark.operators.leakage import audit_cut
        from pyradiomics_spark.sources.sinks import (append_stage,
                                                     processed_keys)

        sc = spark.sparkContext
        self.restore()
        keys = ["url", "warc_ts"]
        with tr.span("probe_resume"):
            done = processed_keys(spark, self.ck, keys)
            self.pages.join(done, keys, "left_anti").limit(1).count()
        self.pipe.run_resumable(self.pages, self.ck)
        with tr.span("probe_asof"):
            asof = self._asof(spark.read.parquet(self.ck))
            plan = asof._jdf.queryExecution().executedPlan().toString()
            _noop(asof)
        asof = asof.persist()
        asof.count()
        with tr.span("probe_windows"):
            served = self._windows(asof)
            _noop(served)
        served = served.persist()
        served.count()
        with tr.span("probe_leakage"):
            violations = audit_cut(served, "cut_ts", "warc_ts")
        with tr.span("probe_append"):
            append_stage(served, _fresh(self.serve_path), ts_col="cut_ts")
        with tr.span("probe_append_nolineage"):
            append_stage(served, _fresh(self.serve_path), ts_col="cut_ts",
                         write_lineage=False)
        served.unpersist()
        asof.unpersist()

        stages = tracing.stage_records(sc)
        jobs = tracing.job_records(sc)
        sums = lambda label: tracing.stage_sums(  # noqa: E731
            stages, lambda d: d == label)
        ex = sums("refresh")
        increment = pq.read_table(self.paths["increment"])
        k = tracing.time_kernels(
            tracing.arrow_batches(increment, 2 * self.cores,
                                  _batch_rows(spark)), self.pipe.settings)
        m = _extraction_layers(k, ex["run_s"], ex["cpu_s"], passes)
        m["text.slow_docs"] = _slow_docs(increment)
        append = sums("probe_append")
        m.update({
            "pit.refresh_s": statistics.median(tr.durations("refresh")),
            "pit.serve_s": statistics.median(tr.durations("serve")),
            "asof.s": tr.total("probe_asof"),
            "asof.shuffle_write_mb": sums("probe_asof")["shuffle_write_mb"],
            "asof.spill_mb": sums("probe_asof")["spill_mb"],
            "asof.exchanges": plan.count("Exchange "),
            "windows.s": tr.total("probe_windows"),
            "windows.shuffle_write_mb":
                sums("probe_windows")["shuffle_write_mb"],
            "leakage.audit_s": tr.total("probe_leakage"),
            "leakage.violations": sum(violations.values()),
            "sinks.append_s": tr.total("probe_append"),
            "sinks.lineage_s": tr.total("probe_append")
                - tr.total("probe_append_nolineage"),
            "sinks.jobs_per_append": sum(
                1 for j in jobs if j["description"] == "probe_append"),
            "sinks.written_mb": append["output_mb"],
            "sinks.resume_probe_s": tr.total("probe_resume"),
            # rows the extraction operator returned during the traced
            # refreshes per held-back key: 1.0 means each new key went
            # through the kernels once
            "sinks.reextract_ratio": tracing.python_rows_out(
                spark, "refresh") / max(self.n_held * passes, 1),
        })
        return m


WORKLOADS = {w.name: w for w in (Extract, PitRefresh)}
