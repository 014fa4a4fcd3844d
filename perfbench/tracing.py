"""Measurement helpers: spans, Spark status-store records, process-tree
memory, and a single-process timer for the extraction kernels.

Everything here observes the program from outside: spans wrap calls into
its public functions, stage records come from Spark's own status store
(read through py4j, no UI or listener needed), and the kernel timer calls
the public batch functions of ``pyradiomics_spark.kernels.batch`` and
``pyradiomics_spark.functions.text`` directly.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

import numpy as np


# ------------------------------------------------------------------ spans

class Tracer:
    """Spans kept in memory; each span also labels the Spark jobs it
    starts (``setJobDescription``) so stage records can be keyed by span.

    ``enabled=False`` makes every call a no-op, so the untraced passes run
    exactly the program's calls and nothing else."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        label = f"{parent['label']}/{name}" if parent else name
        rec = {"name": name, "label": label,
               "parent": parent["label"] if parent else None,
               "start": time.perf_counter()}
        self._stack.append(rec)
        self.sc.setJobDescription(label)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(parent["label"] if parent else None)
            self.spans.append(rec)

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def durations(self, name: str) -> list:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


# ----------------------------------------------------------- status store

STAGE_FIELDS = ("executorRunTime", "executorCpuTime", "jvmGcTime",
                "shuffleWriteBytes", "shuffleReadBytes", "memoryBytesSpilled",
                "diskBytesSpilled", "outputBytes", "numTasks")


#: Plan-node names of the Python map operators.
PYTHON_MAP_NODES = ("MapInArrow", "MapInPandas", "PythonMapInArrow")


def stage_records(sc) -> list:
    """One dict per completed stage: its job description and metrics.

    Read through py4j from ``SparkContext.statusStore``; times are ms
    (CPU time ns), sizes bytes. Skipped stages carry no description and
    no work, so they are dropped."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(jvm.java.util.ArrayList(), False, False,
                             sc._gateway.new_array(jvm.double, 0),
                             jvm.java.util.ArrayList())
    out = []
    for i in range(stages.size()):
        s = stages.apply(i)
        desc = s.description()
        if not desc.isDefined():
            continue
        rec = {"stage": s.stageId(), "description": desc.get()}
        for f in STAGE_FIELDS:
            rec[f] = int(getattr(s, f)())
        out.append(rec)
    return out


def job_records(sc) -> list:
    """(job id, description) for every job the status store holds."""
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        d = j.description()
        out.append({"job": j.jobId(),
                    "description": d.get() if d.isDefined() else None})
    return out


def python_rows_out(spark, description: str) -> int:
    """Rows the Python map nodes (``mapInArrow``/``mapInPandas``) returned,
    summed over every SQL execution labelled ``description``.

    Read through py4j from the SQL status store: each execution's plan
    graph names its nodes and their metric accumulators, whose values the
    store keeps as formatted strings ("3,000")."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    total = 0
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.description() != description:
            continue
        values = store.executionMetrics(e.executionId())
        nodes = store.planGraph(e.executionId()).allNodes()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            if node.name() not in PYTHON_MAP_NODES:
                continue
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                v = values.get(m.accumulatorId())
                if m.name() == "number of output rows" and v.isDefined():
                    total += int(v.get().replace(",", ""))
    return total


def stage_sums(stages: list, match) -> dict:
    """Sum of stage metrics over stages whose description ``match``es,
    converted to seconds and MB, plus the stage and task counts."""
    sel = [s for s in stages if match(s["description"])]
    tot = {f: sum(s[f] for s in sel) for f in STAGE_FIELDS}
    return {
        "stages": len(sel),
        "tasks": tot["numTasks"],
        "run_s": tot["executorRunTime"] / 1e3,
        "cpu_s": tot["executorCpuTime"] / 1e9,
        "gc_s": tot["jvmGcTime"] / 1e3,
        "shuffle_write_mb": tot["shuffleWriteBytes"] / 1e6,
        "spill_mb": (tot["memoryBytesSpilled"] + tot["diskBytesSpilled"]) / 1e6,
        "output_mb": tot["outputBytes"] / 1e6,
    }


# ---------------------------------------------------- process-tree memory

#: Seconds between two samples of the process tree's memory.
SAMPLE_S = 0.2


def _children_map() -> dict:
    kids: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree(pid: int, skip=()) -> list:
    """(process, parent) for every process below ``pid``, leaving out the
    ``skip`` processes and everything below them."""
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            if c not in skip:
                out.append((c, p))
                todo.append(c)
    return out


def descendants(pid: int) -> list:
    return [c for c, _ in _tree(pid)]


def _exe(pid: int):
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeMemory:
    """Samples the summed resident memory of this process and all its
    descendants (the JVM and its Python workers), except the ``skip``
    processes and their descendants, and keeps the peak.

    A child of the JVM that still runs the JVM's executable is left out
    too: it is a command the JVM is launching, which shares the JVM's
    memory, and reports all of it as its own, until it execs."""

    def __init__(self, skip=()):
        self.skip = set(skip)
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            tree = _tree(me, self.skip)
            exe = {p: _exe(p) for p in {me}.union(*tree)}
            total = _rss_kb(me) + sum(
                _rss_kb(c) for c, p in tree
                if not (exe[c] == exe[p] and os.path.basename(
                    exe[c] or "") == "java"))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(SAMPLE_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# --------------------------------------------- single-process kernel timer

KERNEL_LAYERS = ("tokenize", "ragged", "guard", "discretize",
                 "firstorder", "glcm", "runs", "ngtdm", "gldm", "seqshape",
                 "arrow_out", "pandas_handoff")

#: Key columns of ``extract_features`` (its default ``keys``).
KEYS = ("url", "warc_ts")


def arrow_batches(table, partitions: int, max_rows: int):
    """The batches a scan of ``table`` in ``partitions`` equal splits hands
    to ``mapInArrow`` (at most ``max_rows`` rows each)."""
    step = -(-table.num_rows // partitions)
    for k in range(partitions):
        part = table.slice(k * step, step)
        for off in range(0, part.num_rows, max_rows):
            yield part.slice(off, max_rows).combine_chunks().to_batches()[0]


def time_kernels(batches, settings) -> dict:
    """Time each step of the extraction's batch path, per batch, with no
    Spark, as ``extract_features`` takes it: the zero-copy Arrow arm
    (tokenizer over the Arrow buffers, ``Ragged`` build, kernels, output
    batch from arrays), or, when the batch holds a possible unicode space,
    the pandas arm (batch to pandas, per-document tokenizer, ``Ragged``
    build, kernels, pandas frame back to an Arrow batch).

    Mirrors the settings the workloads use: the ``original`` image type,
    every feature class, no normalize and no resegmentation. ``guard`` is
    the fixed-bin-width gray-level cap and the NaN masking of empty or
    over-cap documents. Returns seconds per layer plus counts."""
    import pandas as pd
    import pyarrow as pa

    from pyradiomics_spark.config import ALL_FEATURE_CLASSES
    from pyradiomics_spark.functions.text import (arrow_token_lens,
                                                  batch_text_to_intensity)
    from pyradiomics_spark.kernels import batch as kb
    from pyradiomics_spark.operators.features import feature_columns

    if (settings.image_types != ("original",) or settings.normalize
            or settings.resegment_range is not None
            or set(settings.feature_classes) != set(ALL_FEATURE_CLASSES)):
        raise ValueError("the kernel timer mirrors only the original image "
                         "type with every feature class")
    t = dict.fromkeys(KERNEL_LAYERS, 0.0)
    n_batches = zero_copy = tokens = docs = 0
    fcols = feature_columns(settings)
    names = list(KEYS) + ["image_type", "diag_n_tokens", "diag_n_valid"]
    out_schema = None

    def lap(layer, t0):
        now = time.perf_counter()
        t[layer] += now - t0
        return now

    for rb in batches:
        if out_schema is None:
            out_schema = pa.schema(
                [(k, rb.schema.field(k).type) for k in KEYS]
                + [("image_type", pa.string()), ("diag_n_tokens", pa.int32()),
                   ("diag_n_valid", pa.int32())]
                + [(c, pa.float64()) for c in fcols])
        n_batches += 1
        docs += rb.num_rows
        t0 = time.perf_counter()
        parsed = arrow_token_lens(rb.column(rb.schema.get_field_index("text")))
        t0 = lap("tokenize", t0)
        if parsed is not None:
            zero_copy += 1
            r = kb.Ragged.from_concat(parsed[0].astype(np.float64), parsed[1])
        else:
            pdf = rb.to_pandas()
            texts = pdf["text"].tolist()
            t0 = lap("pandas_handoff", t0)
            ints = batch_text_to_intensity(
                texts, settings.tokenizer, settings.intensity_mode,
                settings.intensity_buckets)
            t0 = lap("tokenize", t0)
            r = kb.Ragged([a.astype(np.float64) for a in ints])
        t0 = lap("ragged", t0)
        tokens += int(r.x.size)
        over_cap = np.zeros(r.B, dtype=bool)
        if settings.bin_count is None and r.x.size:
            fl = np.floor(r.x / settings.bin_width)
            with np.errstate(invalid="ignore"):
                over_cap = ((r.segmax(fl) - r.segmin(fl) + 1)
                            > settings.max_gray_levels) & (r.lens > 0)
            if over_cap.any():
                raise ValueError("the kernel timer does not mirror documents "
                                 "over the gray-level cap")
        t0 = lap("guard", t0)
        lv = kb.discretize_batch(r, settings.bin_width, settings.bin_count)
        t0 = lap("discretize", t0)
        cols = {"diag_n_tokens": r.lens.astype(np.int64),
                "diag_n_valid": r.lens.astype(np.int64)}
        cols.update({f"firstorder_{k}": v for k, v in kb.firstorder_batch(
            r, lv, settings.voxel_array_shift).items()})
        t0 = lap("firstorder", t0)
        cols.update({f"glcm_{k}": v for k, v in kb.glcm_batch(
            r, lv, settings.distances, settings.symmetrical_glcm,
            settings.weighting_norm, None).items()})
        t0 = lap("glcm", t0)
        rl, sz = kb.runs_batch_features(r, lv, None)
        cols.update({f"glrlm_{k}": v for k, v in rl.items()})
        cols.update({f"glszm_{k}": v for k, v in sz.items()})
        t0 = lap("runs", t0)
        cols.update({f"ngtdm_{k}": v for k, v in kb.ngtdm_batch(
            r, lv, settings.distances, None).items()})
        t0 = lap("ngtdm", t0)
        cols.update({f"gldm_{k}": v for k, v in kb.gldm_batch(
            r, lv, settings.gldm_a, settings.distances, None).items()})
        t0 = lap("gldm", t0)
        cols.update({f"seqshape_{k}": v for k, v in
                     kb.seqshape_batch(r, None).items()})
        t0 = lap("seqshape", t0)
        nan_docs = (r.lens < max(settings.minimum_roi_size, 1)) | over_cap
        if nan_docs.any():
            for c in fcols:
                v = np.asarray(cols[c], dtype=np.float64).copy()
                v[nan_docs] = np.nan
                cols[c] = v
        t0 = lap("guard", t0)
        if parsed is not None:
            arrays = [rb.column(rb.schema.get_field_index(k)) for k in KEYS]
            arrays += [pa.array(["original"] * rb.num_rows, type=pa.string())]
            arrays += [pa.array(np.asarray(cols[c], dtype=np.int32))
                       for c in ("diag_n_tokens", "diag_n_valid")]
            arrays += [pa.array(np.asarray(cols[c], dtype=np.float64))
                       for c in fcols]
            pa.RecordBatch.from_arrays(arrays, names=names + fcols)
            lap("arrow_out", t0)
        else:
            data = {k: pdf[k].to_numpy() for k in KEYS}
            data["image_type"] = "original"
            data.update(cols)
            frame = pd.DataFrame(data, columns=names + fcols)
            pa.RecordBatch.from_pandas(frame, schema=out_schema,
                                       preserve_index=False)
            lap("pandas_handoff", t0)
    return {"seconds": t, "batches": n_batches, "zero_copy": zero_copy,
            "tokens": tokens, "docs": docs}
