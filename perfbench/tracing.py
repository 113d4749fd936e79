"""Tracing for the benchmark's traced run, recorded from outside the program.

Every span comes from a wrapper around a public call made while one unit
(a pipeline run or one delta batch) executes:

* `ParquetCheckpoint.write` on the unit's `pipe.ckpt` gives the stage spans.
  A stage's span runs from the end of the previous checkpoint write (or the
  unit's start) to the end of its own write, so lazy layers are charged to
  the stage whose write executes them. The write itself is a child span,
  split into the data write (the first `DataFrameWriter.parquet` call on the
  stage's table path) and the post-write lineage work that follows it.
* `connected_components` at its `plans.pipeline` binding gives the CC span,
  a child of the clusters stage.

Spark jobs are tagged with `setJobGroup("<unit>:<stage>")` from the same
wrappers, so task metrics read back from the UI's REST endpoint can be
charged to pipeline stages. Worker time inside the Jaro-Winkler and
Levenshtein pandas UDFs comes from the session's UDF profiler
(`spark.sql.pyspark.udf.profiler=perf`).
"""

from __future__ import annotations

import json
import pstats
import re
import statistics
import time
import urllib.request
from pathlib import Path

from pyspark.sql.readwriter import DataFrameWriter

import dig_entity_resolution_spark.plans.pipeline as pipeline_mod
from dig_entity_resolution_spark.plans.pipeline import STAGES

#: pandas UDF function name -> per-layer metric
UDF_LAYERS = {
    "jaro_winkler_udf": "similarity.jw_udf_s",
    "lev_similarity_udf": "similarity.lev_udf_s",
}


class Spans:
    """Spans kept in memory; written out once when the benchmark ends."""

    def __init__(self) -> None:
        self.origin = time.perf_counter()
        self.items: list[dict] = []

    def now(self) -> float:
        return time.perf_counter() - self.origin

    def new_id(self) -> int:
        self.items.append({})
        return len(self.items) - 1

    def set(self, sid, name, start, end, parent, run_id) -> int:
        self.items[sid] = {
            "id": sid,
            "name": name,
            "start": start,
            "end": end,
            "parent": parent,
            "run_id": run_id,
        }
        return sid

    def add(self, name, start, end, parent, run_id) -> int:
        return self.set(self.new_id(), name, start, end, parent, run_id)

    def self_times(self) -> dict[str, float]:
        """Per span name, summed duration minus the part its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.items:
            if s and s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.items:
            if not s:
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            dur = s["end"] - s["start"]
            out[s["name"]] = out.get(s["name"], 0.0) + dur - covered
        return out

    def dump(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        body = {
            "spans": [s for s in self.items if s],
            "self_time_s": self.self_times(),
            **extra,
        }
        path.write_text(json.dumps(body, indent=1, sort_keys=True))


class UnitTrace:
    """Context manager that traces one unit run through `pipe`."""

    def __init__(self, spans: Spans, spark, pipe, run_id: str):
        self.spans = spans
        self.spark = spark
        self.sc = spark.sparkContext
        self.pipe = pipe
        self.run_id = run_id
        self.root = spans.new_id()
        self.stage_ids = {s: spans.new_id() for s in STAGES}
        self.stage_s: dict[str, float] = {}
        self.lineage_s: dict[str, float] = {}
        self.cc_s = 0.0
        self._written: list[str] = []
        self._data_end: float | None = None
        self._table_path: str | None = None

    def group(self, stage: str) -> str:
        return f"{self.run_id}:{stage}"

    def _current_stage(self) -> str:
        return STAGES[min(len(self._written), len(STAGES) - 1)]

    def _tag(self, stage: str) -> None:
        self.sc.setJobGroup(self.group(stage), f"perfbench {stage}")

    def __enter__(self) -> "UnitTrace":
        spans, ckpt = self.spans, self.pipe.ckpt
        orig_write = ckpt.write
        orig_parquet = DataFrameWriter.parquet
        orig_cc = pipeline_mod.connected_components

        def write(stage, df, partition_by=None):
            w0 = spans.now()
            self._tag(stage)
            self._table_path, self._data_end = ckpt.table_path(stage), None
            out = orig_write(stage, df, partition_by)
            w1 = spans.now()
            sid = self.stage_ids.get(stage) or spans.new_id()
            spans.set(sid, f"pipeline.{stage}", self.prev_end, w1, self.root, self.run_id)
            wid = spans.add("checkpoint.write", w0, w1, sid, self.run_id)
            data_end = self._data_end if self._data_end is not None else w1
            spans.add("checkpoint.data_write", w0, data_end, wid, self.run_id)
            self.stage_s[stage] = w1 - self.prev_end
            self.lineage_s[stage] = w1 - data_end
            self.prev_end = w1
            self._table_path = None
            self._written.append(stage)
            self._tag(self._current_stage())
            return out

        def parquet(writer, path, *args, **kwargs):
            out = orig_parquet(writer, path, *args, **kwargs)
            if self._table_path == path and self._data_end is None:
                self._data_end = spans.now()
            return out

        def connected_components(*args, **kwargs):
            c0 = spans.now()
            try:
                return orig_cc(*args, **kwargs)
            finally:
                c1 = spans.now()
                self.cc_s += c1 - c0
                spans.add(
                    "cluster.connected_components",
                    c0,
                    c1,
                    self.stage_ids[self._current_stage()],
                    self.run_id,
                )

        self._restore = (orig_parquet, orig_cc)
        ckpt.write = write
        DataFrameWriter.parquet = parquet
        pipeline_mod.connected_components = connected_components
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        self.spark.profile.clear(type="perf")
        self._tag(STAGES[0])
        self.start = self.prev_end = spans.now()
        return self

    def __exit__(self, *exc) -> None:
        self.end = self.spans.now()
        self.spans.set(self.root, "unit", self.start, self.end, None, self.run_id)
        orig_parquet, orig_cc = self._restore
        DataFrameWriter.parquet = orig_parquet
        pipeline_mod.connected_components = orig_cc
        del self.pipe.ckpt.write  # back to the class method
        self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
        self.sc.setJobGroup("perfbench:post", "perfbench checks")

    def udf_seconds(self, dump_dir: Path) -> dict[str, float]:
        """Worker seconds inside each traced pandas UDF of this unit."""
        out = {m: 0.0 for m in UDF_LAYERS.values()}
        for f in dump_dir.glob("*.pstats"):
            f.unlink()
        self.spark.profile.dump(str(dump_dir), type="perf")
        for f in dump_dir.glob("*.pstats"):
            for (_file, _line, func), row in pstats.Stats(str(f)).stats.items():
                if func in UDF_LAYERS:
                    out[UDF_LAYERS[func]] += row[3]  # cumulative time
        self.spark.profile.clear(type="perf")
        return out


class SparkRest:
    """Reads job and stage metrics from the Spark UI REST endpoint."""

    def __init__(self, sc):
        port = re.search(r":(\d+)/?$", sc.uiWebUrl).group(1)
        self.base = (
            f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        )
        # the endpoint is local: never route it through a proxy from the env
        self.opener = urllib.request.build_opener(urllib.request.ProxyHandler({}))

    def get(self, path: str):
        with self.opener.open(self.base + path, timeout=30) as r:
            return json.load(r)

    def _settled_jobs(self, prefix: str, timeout: float = 15.0) -> list[dict]:
        """Jobs whose group starts with prefix, once the listener has caught
        up: none running and the same job set on two polls in a row."""
        last = None
        deadline = time.monotonic() + timeout
        while True:
            jobs = [
                j for j in self.get("/jobs")
                if (j.get("jobGroup") or "").startswith(prefix)
            ]
            key = sorted((j["jobId"], j["status"]) for j in jobs)
            done = all(j["status"] != "RUNNING" for j in jobs)
            if (done and key == last) or time.monotonic() > deadline:
                return jobs
            last = key
            time.sleep(0.3)

    def stage_metrics(self, run_id: str) -> dict[str, dict[str, float]]:
        """Per pipeline stage: cpu_s, gc_s, shuffle_bytes, spill_bytes and
        task_skew (max / median task duration) over its Spark stages."""
        jobs = self._settled_jobs(f"{run_id}:")
        owner: dict[int, tuple[int, str]] = {}
        for j in jobs:
            stage = j["jobGroup"].split(":", 1)[1]
            for sid in j["stageIds"]:
                # a stage listed by several jobs ran in the first of them
                if sid not in owner or j["jobId"] < owner[sid][0]:
                    owner[sid] = (j["jobId"], stage)
        acc = {
            s: {"cpu_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0.0,
                "spill_bytes": 0.0, "tasks": []}
            for s in STAGES
        }
        for st in self.get("/stages?details=true"):
            if st["stageId"] not in owner or st["status"] != "COMPLETE":
                continue
            a = acc.get(owner[st["stageId"]][1])
            if a is None:
                continue
            a["cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            a["gc_s"] += st.get("jvmGcTime", 0) / 1e3
            a["shuffle_bytes"] += st.get("shuffleWriteBytes", 0)
            a["spill_bytes"] += st.get("diskBytesSpilled", 0)
            a["tasks"] += [
                t["duration"] for t in (st.get("tasks") or {}).values()
                if t.get("status") == "SUCCESS" and "duration" in t
            ]
        out = {}
        for s, a in acc.items():
            tasks = a.pop("tasks")
            med = statistics.median(tasks) if tasks else 0
            a["task_skew"] = max(tasks) / med if med > 0 else 1.0
            out[s] = a
        return out
