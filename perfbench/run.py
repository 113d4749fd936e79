"""End-to-end benchmark of the ER pipeline through its public entry points,
`ERPipeline.run` and `ERPipeline.run_incremental`.

Run from the repository root:

    python3 perfbench/run.py --workload er_batch_lsh --seed 1 --seconds 10 --trace 0

Workloads:

* ``er_batch_lsh``   -- ``ERPipeline.run`` with the default ``ERConfig``
  (blocking strategies token, prefix, minhash_lsh) over the whole corpus.
* ``er_incremental`` -- the base run resolves the corpus minus a url-hash
  held-out share; each unit is then one url-disjoint
  ``run_incremental(..., mode="append_only")`` delta batch based on the
  previous unit's run. Its corpus is smaller than the batch workloads'
  by default: a delta batch costs about the same at any size, and each
  run also resolves a from-scratch reference.
* ``er_batch_token`` -- ``er_batch_lsh`` with ``strategies=("token",
  "prefix")``, so MinHash is bypassed. It runs by hand; BENCHMARK.json
  leaves it out because a third workload does not fit the time the
  benchmark's runs are given.

The loop is closed: one client submits one unit (a batch run, or one delta
batch) after the previous one has finished. The Spark session is
``local[N]`` with N the cores this process may run on. Set-up (session
start, corpus generation and one untimed warm-up unit, which for
``er_incremental`` is the base run) comes before the measured window and is
reported as ``setup_s``.

Every unit is checked outside its timed span. A unit fails when it raises
or when the pairwise F1 of its clusters against the planted labels
(restricted to the urls resolved so far) is below 0.99. Stability compares
units with each other, not with the labels: on the batch workloads every
timed unit must give the warm-up unit's ``(record_id, cluster_id)``
fingerprint; on ``er_incremental`` each unit must group the urls of the
unit before it (the base run, for the first) exactly as that unit did.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` measures half
the window untraced, half traced and one more untraced unit, prints the
per-layer metrics (medians over the traced units; ``trace.overhead_frac``
compares them with the untraced unit after them) and writes the traced
spans with each layer's self time to ``.perfbench_out/``. A traced run
fails when a traced unit's stage spans do not sum to within 10% of its
wall. The last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CACHE = ROOT / ".perfbench_cache"
WORK = ROOT / ".perfbench_work"
OUT = ROOT / ".perfbench_out"

#: workload -> default corpus size in documents
WORKLOADS = {"er_batch_lsh": 512, "er_batch_token": 512, "er_incremental": 128}
MIN_F1 = 0.99
#: traced stage spans must add up to the unit's wall within this share
SPAN_CLOSURE = 0.10


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--docs", type=int, default=None,
        help="corpus size in documents (half in planted clusters of 4);"
        " the default depends on the workload",
    )
    args = p.parse_args(argv)
    if args.docs is None:
        args.docs = WORKLOADS[args.workload]
    return args


def cores() -> int:
    """Cores this process may run on (affinity mask, as `nproc` reports)."""
    return len(os.sched_getaffinity(0))


def source_version() -> str:
    """The git commit when run from a git checkout, else a hash of the
    package's source files."""
    if (ROOT / ".git").exists():
        try:
            return subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                text=True, timeout=30, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    for f in sorted((ROOT / "dig_entity_resolution_spark").rglob("*.py")):
        h.update(f.relative_to(ROOT).as_posix().encode())
        h.update(f.read_bytes())
    return "src-" + h.hexdigest()[:16]


def prepare_env(work: Path) -> None:
    """Point every scratch location of Spark, the JVM and Python's tempfile
    inside the checkout, and make the package importable in the Python UDF
    workers whatever their working directory is."""
    for d in ("spark-local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM started (the launcher and Spark's own): temp files in the
    # checkout, and no hsperfdata file in the system temp directory
    jvm = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    old_jvm = os.environ.get("JAVA_TOOL_OPTIONS")
    os.environ["JAVA_TOOL_OPTIONS"] = jvm + (" " + old_jvm if old_jvm else "")
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    # the session factory's JVM heap knob: the corpus is small, and a
    # fixed heap keeps peak RSS comparable between machines and runs
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    tempfile.tempdir = None  # re-read TMPDIR
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def start_session(work: Path, n_cores: int, ui: bool):
    from dig_entity_resolution_spark.session import build_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "sql-warehouse"),
    }
    if ui:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    return build_session(
        app_name="perfbench", cpus=n_cores, extra_conf=conf
    )


# -- workloads -------------------------------------------------------------


class BatchRuns:
    """Each unit, the warm-up included, resolves the whole corpus from
    scratch with `run`."""

    def __init__(self, spark, inputs, wh: Path, cfg):
        self.spark, self.wh, self.cfg = spark, wh, cfg
        self.pages = spark.read.parquet(inputs.pages)
        self.docs = inputs.docs
        #: urls resolved so far, and those the last unit added
        self.seen = set(inputs.truth_map)
        self.delta = self.seen

    def remaining(self) -> float:
        """Units left to run."""
        return float("inf")

    def pipeline(self, run_id: str):
        from dig_entity_resolution_spark.plans.pipeline import ERPipeline

        return ERPipeline(self.spark, str(self.wh), run_id, self.cfg)

    def call(self, pipe):
        return pipe.run(self.pages)

    def done(self, pipe) -> None:
        shutil.rmtree(self.wh / pipe.ckpt.run_id, ignore_errors=True)


class DeltaChain(BatchRuns):
    """The set-up unit resolves the base share with `run` (the first
    pipeline run of the process, so it also absorbs the first-JVM cost);
    every later unit resolves the next url-disjoint delta batch with
    `run_incremental` (append_only) on top of the previous unit's run."""

    def __init__(self, spark, inputs, wh: Path, cfg):
        super().__init__(spark, inputs, wh, cfg)
        import pyarrow.parquet as pq

        def urls(path):
            return set(pq.read_table(path, columns=["url"]).column("url").to_pylist())

        self.base = (inputs.base, urls(inputs.base))
        self.batches = [(p, urls(p)) for p in inputs.deltas]
        self.docs = inputs.delta_docs
        self.seen: set[str] = set()
        self.prev: str | None = None

    def remaining(self) -> float:
        return len(self.batches)

    def call(self, pipe):
        if self.prev is None:
            path, self.delta = self.base
            self.seen = set(self.delta)
            return pipe.run(self.spark.read.parquet(path))
        path, self.delta = self.batches.pop(0)
        self.seen |= self.delta
        return pipe.run_incremental(
            self.spark.read.parquet(path), self.prev, mode="append_only"
        )

    def done(self, pipe) -> None:
        # the next unit reads only this unit's tables
        if self.prev is not None:
            shutil.rmtree(self.wh / self.prev, ignore_errors=True)
        self.prev = pipe.ckpt.run_id


def make_workload(name: str, spark, inputs, wh: Path, cfg_overrides=None):
    from dataclasses import replace

    from dig_entity_resolution_spark.plans.pipeline import ERConfig

    cfg = ERConfig()
    if name == "er_batch_token":
        cfg = replace(cfg, strategies=("token", "prefix"))
    cfg = replace(cfg, **(cfg_overrides or {}))
    kind = DeltaChain if name == "er_incremental" else BatchRuns
    return kind(spark, inputs, wh, cfg)


# -- correctness -----------------------------------------------------------


def unit_failed(f1: float | None, raised: bool) -> bool:
    """A unit fails when it raised or its F1 is below MIN_F1."""
    return raised or f1 is None or f1 < MIN_F1


def fingerprint(pairs) -> str:
    """Digest of a cluster assignment given as (record_id, cluster_id) pairs."""
    h = hashlib.sha256()
    for rid, cid in sorted(pairs):
        h.update(f"{rid}:{cid};".encode())
    return h.hexdigest()


def grouping(assign: dict, urls) -> str:
    """Fingerprint of how `assign` (url -> cluster id) groups `urls`,
    whatever the clusters are named; a url it lacks is marked missing."""
    names: dict = {}
    for u in sorted(u for u in urls if u in assign):
        names.setdefault(assign[u], u)
    return fingerprint(
        (u, names[assign[u]] if u in assign else "<missing>") for u in urls
    )


def all_same(fingerprints: list[str | None]) -> bool:
    """True when there is at least one fingerprint and all are equal (a
    unit that raised has none)."""
    return bool(fingerprints) and None not in fingerprints and len(set(fingerprints)) == 1


@dataclass
class Check:
    f1: float
    fingerprint: str
    assign: dict  # url -> cluster_id
    largest: int
    ids: dict  # url -> record_id


def check_unit(pipe, clusters, inputs, seen: set[str]) -> Check:
    """F1 against the planted labels over the urls resolved so far, the
    assignment's fingerprint and the largest cluster, computed here rather
    than by the program."""
    rows = (
        clusters.join(pipe.ckpt.read("records").select("record_id", "url"), "record_id")
        .select("url", "record_id", "cluster_id")
        .collect()
    )
    cid = {r["url"]: r["cluster_id"] for r in rows}
    ids = {r["url"]: r["record_id"] for r in rows}
    tp = fp = fn = 0
    for u1, u2, label in inputs.label_rows:
        if u1 not in seen or u2 not in seen:
            continue
        same = u1 in cid and u2 in cid and cid[u1] == cid[u2]
        if label and same:
            tp += 1
        elif label:
            fn += 1
        elif same:
            fp += 1
    f1 = 2 * tp / (2 * tp + fp + fn) if tp else 0.0
    sizes: dict = {}
    for c in cid.values():
        sizes[c] = sizes.get(c, 0) + 1
    fp_ = fingerprint((ids[u], cid[u]) for u in cid)
    return Check(f1, fp_, cid, max(sizes.values(), default=0), ids)


def stable_units(units: list, chained: bool) -> bool:
    """Batch units must all give the same assignment; a chained unit must
    group the urls of the unit before it exactly as that unit did."""
    if not chained:
        return all_same([u.fingerprint for u in units])
    if any(u.assign is None for u in units):  # a unit raised
        return False
    return all(
        grouping(cur.assign, prev.assign) == grouping(prev.assign, prev.assign)
        for prev, cur in zip(units, units[1:])
    )


# -- the measured window ---------------------------------------------------


@dataclass
class UnitResult:
    run_id: str
    wall: float
    failed: bool
    f1: float
    fingerprint: str | None
    assign: dict | None
    layers: dict | None = None
    span_sum: float | None = None


def run_unit(wl, run_id, inputs, spark, tracer=None) -> UnitResult:
    from tracing import UnitTrace

    pipe = wl.pipeline(run_id)
    trace = UnitTrace(tracer.spans, spark, pipe, run_id) if tracer else None
    try:
        if trace:
            with trace:
                t0 = time.perf_counter()
                clusters = wl.call(pipe)
                wall = time.perf_counter() - t0
        else:
            t0 = time.perf_counter()
            clusters = wl.call(pipe)
            wall = time.perf_counter() - t0
        chk = check_unit(pipe, clusters, inputs, wl.seen)
    except Exception:  # a failed unit is counted, and the window goes on
        traceback.print_exc(file=sys.stderr)
        return UnitResult(run_id, float("nan"), unit_failed(None, True), 0.0, None, None)
    res = UnitResult(
        run_id, wall, unit_failed(chk.f1, False), chk.f1, chk.fingerprint,
        chk.assign,
    )
    if trace:
        res.layers = tracer.layer_metrics(trace, pipe, chk, wl, inputs)
        res.span_sum = sum(trace.stage_s.values())
    wl.done(pipe)
    return res


def measure(wl, seconds, inputs, spark, label, tracer=None, reserve=0):
    """Closed loop of units until `seconds` have passed (at least one),
    leaving `reserve` units for later windows."""
    out: list[UnitResult] = []
    end = time.perf_counter() + seconds
    while (not out or time.perf_counter() < end) and wl.remaining() > reserve:
        out.append(
            run_unit(wl, f"{label}{len(out):03d}", inputs, spark, tracer)
        )
    return out


class Tracer:
    """Collects the per-layer metrics of traced units."""

    def __init__(self, spark, out_dir: Path):
        from tracing import SparkRest, Spans

        self.spark = spark
        self.spans = Spans()
        self.rest = SparkRest(spark.sparkContext)
        self.dump_dir = out_dir

    def layer_metrics(self, trace, pipe, chk: Check, wl, inputs) -> dict:
        from pyspark.sql import functions as F

        from dig_entity_resolution_spark.plans.pipeline import STAGES

        ck = pipe.ckpt
        m: dict[str, float] = {}
        lineage = (
            self.spark.read.parquet(*[ck.meta_path(s) for s in STAGES])
            .groupBy("stage")
            .agg(
                F.count(F.lit(1)).alias("files"),
                F.sum("bytes").alias("bytes"),
                F.sum("rows_out").alias("rows"),
            )
            .collect()
        )
        by_stage = {r["stage"]: r for r in lineage}
        sm = self.rest.stage_metrics(trace.run_id)
        for s in STAGES:
            m[f"pipeline.{s}.s"] = trace.stage_s.get(s, 0.0)
            m[f"pipeline.{s}.rows"] = by_stage[s]["rows"] or 0
            for k, v in sm[s].items():
                m[f"spark.{s}.{k}"] = v
            m[f"checkpoint.{s}.bytes"] = by_stage[s]["bytes"] or 0
        m["checkpoint.files"] = sum(r["files"] for r in lineage)
        m["checkpoint.lineage_s"] = sum(trace.lineage_s.values())
        m["cluster.cc_s"] = trace.cc_s
        m["cluster.cc_rounds"] = pipe.cc_stats.get("rounds", 0)
        m["cluster.largest"] = chk.largest
        cand = ck.read("cand_pairs").select("id1", "id2")
        n_cand = cand.count()
        # positives among the urls resolved so far that the unit had to find:
        # all of them for a batch run, those touching the delta otherwise
        pos = {
            (min(chk.ids[a], chk.ids[b]), max(chk.ids[a], chk.ids[b]))
            for a, b, label in inputs.label_rows
            if label and a in chk.ids and b in chk.ids
            and (a in wl.delta or b in wl.delta)
        }
        found = 0
        if pos:
            found = (
                self.spark.createDataFrame(sorted(pos), "id1 long, id2 long")
                .join(
                    cand.select(
                        F.least("id1", "id2").alias("id1"),
                        F.greatest("id1", "id2").alias("id2"),
                    ),
                    ["id1", "id2"],
                    "left_semi",
                )
                .count()
            )
        m["blocking.pc"] = found / len(pos) if pos else 1.0
        matches = (
            ck.read("scored_pairs")
            .filter(F.col("is_match"))
            .join(cand, ["id1", "id2"], "left_semi")
            .count()
        )
        m["scoring.match_rate"] = matches / n_cand if n_cand else 0.0
        scored_s = trace.stage_s.get("scored_pairs", 0.0)
        m["scoring.pairs_per_s"] = n_cand / scored_s if scored_s else 0.0
        m.update(trace.udf_seconds(self.dump_dir))
        return m


# -- output ----------------------------------------------------------------

E2E_UNITS = {
    "setup_s": "s",
    "e2e_s": "s",
    "docs_per_s": "docs/s",
    "f1": "ratio",
    "peak_rss_mb": "MB",
    "ok_frac": "ratio",
    "clusters_stable": "bool",
}


def layer_unit(name: str) -> str:
    if name.endswith("pairs_per_s"):
        return "1/s"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_bytes") or name.endswith(".bytes"):
        return "bytes"
    if name.endswith(".rows"):
        return "rows"
    if name.endswith(("_frac", ".pc", "_rate", "task_skew")):
        return "ratio"
    return "count"


def _median(xs):
    xs = [x for x in xs if x == x]  # drop NaN walls of raised units
    return statistics.median(xs) if xs else float("nan")


def run_workload(spark, args, t_start: float, work: Path, cfg_overrides=None):
    """Set up, measure and summarise one workload; returns the result object."""
    from corpus import load_inputs

    t_inputs = time.perf_counter()
    inputs = load_inputs(CACHE, args.seed, args.docs)
    t_inputs = time.perf_counter() - t_inputs
    wh = work / f"warehouse-{time.monotonic_ns()}"
    wl = make_workload(args.workload, spark, inputs, wh, cfg_overrides)
    warm = run_unit(wl, "warmup", inputs, spark)
    if warm.wall != warm.wall:
        raise RuntimeError("the warm-up unit raised")
    setup_s = time.perf_counter() - t_start
    print(
        f"perfbench: set-up {setup_s:.2f}s: inputs {t_inputs:.2f}s,"
        f" warm-up unit {warm.wall:.2f}s",
        file=sys.stderr,
    )

    from procs import PeakRss

    # a traced run keeps a delta batch for each later window
    with PeakRss() as rss:
        units = measure(
            wl, args.seconds / (2 if args.trace else 1), inputs, spark, "u",
            reserve=2 if args.trace else 0,
        )
    traced: list[UnitResult] = []
    after: list[UnitResult] = []
    if args.trace:
        tracer = Tracer(spark, work / "udf-profiles")
        traced = measure(
            wl, args.seconds / 2, inputs, spark, "t", tracer=tracer, reserve=1
        )
        # the overhead compares the traced units with an untraced unit run
        # right after them: the first units after the warm-up still run
        # slower, so the earlier untraced window is no fair baseline
        after = measure(wl, 0, inputs, spark, "v")
    counted = units + traced + after
    print(
        "perfbench: unit walls "
        + " ".join(f"{u.run_id}={u.wall:.2f}" for u in counted),
        file=sys.stderr,
    )
    failed = sum(u.failed for u in counted)
    stable = stable_units([warm] + counted, isinstance(wl, DeltaChain))
    if not stable:
        print("perfbench: cluster fingerprints differ", file=sys.stderr)
    correct = failed == 0 and stable
    if not args.trace:
        e2e = _median([u.wall for u in units])
        metrics = {
            "setup_s": setup_s,
            "e2e_s": e2e,
            "docs_per_s": wl.docs / e2e if e2e == e2e else 0.0,
            "f1": min(u.f1 for u in units),  # the window's worst unit
            "peak_rss_mb": rss.peak / 2**20,
            "ok_frac": 1 - sum(u.failed for u in units) / len(units),
            "clusters_stable": float(stable),
        }
        units_of = E2E_UNITS
    else:
        done = [u for u in traced if u.layers]
        if not done or not after:
            print("perfbench: no traced unit, or no untraced unit after them",
                  file=sys.stderr)
            correct = False
        metrics = {
            k: _median([u.layers[k] for u in done])
            for k in (done[0].layers if done else {})
        }
        metrics["trace.overhead_frac"] = (
            _median([u.wall for u in traced]) / _median([u.wall for u in after]) - 1
        )
        # closure: the stage spans end at the last checkpoint write, so they
        # miss whatever a unit does after it or outside any stage
        for u in done:
            if not abs(u.span_sum / u.wall - 1) <= SPAN_CLOSURE:
                print(
                    f"perfbench: {u.run_id} stage spans sum to {u.span_sum:.3f}s"
                    f" against a {u.wall:.3f}s unit",
                    file=sys.stderr,
                )
                correct = False
        tracer.spans.dump(
            OUT / f"trace_{args.workload}_seed{args.seed}.json",
            {
                "workload": args.workload,
                "seed": args.seed,
                "units": [
                    {"run_id": u.run_id, "wall_s": u.wall, "span_sum_s": u.span_sum}
                    for u in traced
                ],
            },
        )
        units_of = {k: layer_unit(k) for k in metrics}
    shutil.rmtree(wh, ignore_errors=True)
    return {
        "correct": bool(correct),
        "attempted": len(counted),
        "failed": failed,
        "metrics": {
            # NaN (no unit finished) is not JSON; such a run is not correct
            k: {"value": float(v) if v == v else 0.0, "unit": units_of[k]}
            for k, v in metrics.items()
        },
    }


def stop_session(spark, work: Path) -> None:
    """Stop Spark and wait until the JVM and its Python workers have ended."""
    from procs import descendants, wait_gone

    tree = descendants(os.getpid())
    if spark is not None:
        gateway = spark.sparkContext._gateway
        spark.stop()
        # the JVM exits when its stdin closes; its Python daemon and
        # workers exit when the JVM does
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    left = wait_gone(tree)
    if left:
        print(f"perfbench: had to signal {left}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    work = WORK / str(os.getpid())
    prepare_env(work)
    try:
        import dig_entity_resolution_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the pipeline package: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    import pyspark

    n = cores()
    print(
        "perfbench: " + json.dumps({
            "workload": args.workload, "seed": args.seed, "docs": args.docs,
            "cores": n, "pyspark": pyspark.__version__,
            "commit": source_version(),
        }),
        flush=True,
    )
    spark = None
    try:
        spark = start_session(work, n, ui=bool(args.trace))
        result = run_workload(spark, args, t_start, work)
    finally:
        stop_session(spark, work)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
