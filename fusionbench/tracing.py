"""Per-layer tracing from outside the engine.

A span wraps one call into a layer's public function. It records wall
time and, from Spark's status store (readable with the UI disabled), the
jobs that started inside it: stages run, tasks, executor CPU, input,
shuffle, spill and output bytes. Every span also sets its own
Spark job group, so the jobs can be told apart when the store is read
elsewhere. Spans stay in memory (name, start, end, parent, pass id) and
are written out once, at the end of the run.

Layer inputs are materialized (persist + count) between spans, outside
them, so an ``exec`` span times only its own layer.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from timeseriesfuser_spark.sources.readers import build_source_df, probe_source_window

# Counter name -> StageData getter; summed over the COMPLETE stages of a
# span's jobs.
_STAGE_SUMS = {
    "tasks": "numCompleteTasks",
    "exec_cpu_ns": "executorCpuTime",
    "input_bytes": "inputBytes",
    "rows_scanned": "inputRecords",
    "bytes_written": "outputBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


class Span:
    def __init__(self, name, parent, pass_id):
        self.name, self.parent, self.pass_id = name, parent, pass_id
        self.start = self.end = 0.0
        self.counts = {}

    @property
    def seconds(self):
        return self.end - self.start

    def count(self, key, value):
        self.counts[key] = value

    def as_dict(self):
        return {"name": self.name, "start": self.start, "end": self.end,
                "parent": self.parent, "pass": self.pass_id, **self.counts}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.spans = []
        self.pass_id = 0
        self._stack = []
        self.extra = {}  # pass id -> {metric: value} measured by the workload

    # -- status store ---------------------------------------------------- #

    def _drain(self):
        self._jsc.listenerBus().waitUntilEmpty()

    def _max_job_id(self):
        self._drain()
        ids = [j.jobId() for j in _seq(self._jsc.statusStore().jobsList(None))]
        return max(ids, default=-1)

    def _counters(self, after_job):
        self._drain()
        store = self._jsc.statusStore()
        jobs = [j for j in _seq(store.jobsList(None)) if j.jobId() > after_job]
        out = {"jobs": len(jobs), "stages": 0, **{k: 0 for k in _STAGE_SUMS}}
        seen = set()
        for job in jobs:
            for sid in _seq(job.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                for st in _seq(store.stageData(sid, False, None, False, None)):
                    if st.status().toString() != "COMPLETE":
                        continue
                    out["stages"] += 1
                    for key, getter in _STAGE_SUMS.items():
                        out[key] += getattr(st, getter)()
        return out

    # -- spans ----------------------------------------------------------- #

    def new_pass(self):
        self.pass_id += 1

    @contextmanager
    def span(self, name):
        parent = self._stack[-1].name if self._stack else None
        s = Span(name, parent, self.pass_id)
        first = self._max_job_id()
        self.sc.setJobGroup(f"fusionbench:{name}:{self.pass_id}", name)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobGroup(f"fusionbench:{self._stack[-1].name}:{self.pass_id}"
                                if self._stack else "fusionbench", "")
            s.counts.update(self._counters(first))
            self.spans.append(s)

    def exec_span(self, name, df):
        """Time a noop-sink materialization of ``df``, then pin ``df``
        (outside the span) as the next layer's input."""
        with self.span(name) as s:
            df.write.format("noop").mode("overwrite").save()
        pinned = df.persist()
        s.count("rows_out", pinned.count())
        return pinned

    def readers(self, sources, probe: bool):
        """The reader layer as the fuser uses it: the window probes (when
        the workload probes) and a scan of every source, pinned."""
        if probe:
            with self.span("readers.probe"):
                for src in sources:
                    probe_source_window(self.spark, src)
        frames = []
        with self.span("readers.scan"):
            for i, src in enumerate(sources):
                df = build_source_df(self.spark, src, i)
                df.write.format("noop").mode("overwrite").save()
                frames.append(df)
        pinned = []
        for df in frames:
            df = df.persist()
            df.count()
            pinned.append(df)
        return pinned

    def add(self, key, value):
        self.extra.setdefault(self.pass_id, {})[key] = value

    def layer_metrics(self, pass_id):
        """Per-layer metrics of one traced pass; idle layers read 0."""
        spans = {s.name: s for s in self.spans if s.pass_id == pass_id}
        out = {}
        for name, unit, span, field in LAYER_METRICS:
            s = spans.get(span)
            if s is None:
                v = 0
            elif field == "seconds":
                v = s.seconds
            elif field == "exec_cpu_s":
                v = s.counts["exec_cpu_ns"] / 1e9
            elif field == "spill_bytes":
                v = s.counts["memory_spill_bytes"] + s.counts["disk_spill_bytes"]
            else:
                v = s.counts[field]
            out[name] = (v, unit)
        measured = self.extra.get(pass_id, {})
        out.update({k: (measured.get(k, 0), u) for k, u in EXTRA_METRICS.items()})
        scanned = out["readers.rows_scanned"][0]
        out["fuse.window_keep_ratio"] = (
            out["fuse.rows_out"][0] / scanned if scanned and "fuse.exec" in spans else 0,
            "ratio")
        return out

    def write(self, path, meta):
        with open(path, "w") as fh:
            json.dump({**meta, "spans": [s.as_dict() for s in self.spans]}, fh, indent=1)


# (metric, unit, span, field): field is "seconds", a span counter, or a
# counter derived in layer_metrics. Metrics the workload measures itself
# (handler time, replay wait) and the run-level ones come from elsewhere.
LAYER_METRICS = [
    ("readers.probe_s", "s", "readers.probe", "seconds"),
    ("readers.probe_jobs", "count", "readers.probe", "jobs"),
    ("readers.scan_s", "s", "readers.scan", "seconds"),
    ("readers.input_bytes", "bytes", "readers.scan", "input_bytes"),
    ("readers.rows_scanned", "rows", "readers.scan", "rows_scanned"),
    ("readers.exec_cpu_s", "s", "readers.scan", "exec_cpu_s"),
    ("fuse.build_s", "s", "fuse.build", "seconds"),
    ("fuse.build_jobs", "count", "fuse.build", "jobs"),
    ("fuse.exec_s", "s", "fuse.exec", "seconds"),
    ("fuse.rows_out", "rows", "fuse.exec", "rows_out"),
    ("fuse.shuffle_write_bytes", "bytes", "fuse.exec", "shuffle_write_bytes"),
    ("fill.build_s", "s", "fill.build", "seconds"),
    ("fill.build_jobs", "count", "fill.build", "jobs"),
    ("fill.exec_s", "s", "fill.exec", "seconds"),
    ("fill.jobs", "count", "fill.exec", "jobs"),
    ("fill.tasks", "count", "fill.exec", "tasks"),
    ("fill.shuffle_write_bytes", "bytes", "fill.exec", "shuffle_write_bytes"),
    ("fill.spill_bytes", "bytes", "fill.exec", "spill_bytes"),
    ("fill.exec_cpu_s", "s", "fill.exec", "exec_cpu_s"),
    ("resample.build_s", "s", "resample.build", "seconds"),
    ("resample.exec_s", "s", "resample.exec", "seconds"),
    ("resample.jobs", "count", "resample.exec", "jobs"),
    ("resample.stages", "count", "resample.exec", "stages"),
    ("resample.tasks", "count", "resample.exec", "tasks"),
    ("resample.shuffle_write_bytes", "bytes", "resample.exec", "shuffle_write_bytes"),
    ("resample.rows_out", "rows", "resample.exec", "rows_out"),
    ("resample.exec_cpu_s", "s", "resample.exec", "exec_cpu_s"),
    ("asof.exec_s", "s", "asof.exec", "seconds"),
    ("asof.jobs", "count", "asof.exec", "jobs"),
    ("asof.shuffle_write_bytes", "bytes", "asof.exec", "shuffle_write_bytes"),
    ("asof.spill_bytes", "bytes", "asof.exec", "spill_bytes"),
    ("asof.exec_cpu_s", "s", "asof.exec", "exec_cpu_s"),
    ("sinks.write_s", "s", "sinks.write", "seconds"),
    ("sinks.jobs", "count", "sinks.write", "jobs"),
    ("sinks.bytes_written", "bytes", "sinks.write", "bytes_written"),
    ("sinks.files", "count", "sinks.write", "files"),
    ("replay.jobs", "count", "replay", "jobs"),
    ("replay.rows", "rows", "replay", "rows"),
]

# Reported by the workload or the run, zero when the layer is idle.
EXTRA_METRICS = {
    "replay.spark_wait_s": "s",
    "replay.first_event_s": "s",
    "replay.events_per_s": "events/s",
    "handlers.process_s": "s",
    "handlers.rows_out": "rows",
}
