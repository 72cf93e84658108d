"""Production-path entity-resolution benchmark.

Times ``ResolutionPipeline.run`` / ``run_incremental`` as users run them: from
a committed parquet input table to a committed ``clusters`` table, on
``local[nproc]`` from one driver process, then checks the outputs.

    python3 perfbench/run.py --workload batch_2k --seed 1 --seconds 8 --trace 0

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``. See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from dataclasses import dataclass
from pathlib import Path

from workloads import WORKLOADS, Workload, generate, split_delivery

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_work"
DRIVER_MEMORY = "2g"
MIN_PAIR_F1 = 0.99  # the BASELINE strict pairwise-F1 target

LAYERS = ("transcripts", "features", "blocking", "scoring", "clustering", "catalog")
LAYER_OF = {
    "batch": {
        "records": "transcripts", "vectors": "features", "pairs": "blocking",
        "pair_inputs": "features", "scored": "scoring", "clusters": "clustering",
    },
    # run_incremental commits pairs_new (fresh blocking output), then scored
    # (pair features and scoring fused in one write), then rewrites the whole
    # pairs table as old + new: that last write is catalog work only.
    "incremental": {
        "records": "transcripts", "vectors": "features", "pairs_new": "blocking",
        "scored": "scoring", "pairs": "catalog", "clusters": "clustering",
    },
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# -- environment -------------------------------------------------------------
def configure_env(run_dir: Path) -> dict[str, str]:
    """Keep every file Spark, the JVM and Python write inside ``run_dir``.
    Returns the Spark conf shared by all sessions of the run."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # Reaches every JVM, the spark-submit launcher's included: no hsperfdata
    # files and no temp files outside the run directory.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "spark.sql.warehouse.dir": str(run_dir / "spark-warehouse"),
    }


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_session(conf: dict[str, str]):
    from entity_resolver_spark.session import get_spark

    return get_spark("perfbench", master=f"local[{cpus()}]", extra_conf=conf)


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited (its
    Python worker daemon exits with it)."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Py4JError:  # a call cut by SIGTERM leaves the gateway unusable
        pass
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Py4JError:
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class PeakRSS(threading.Thread):
    """Peak resident memory of the JVM and its Python workers: the JVM's
    kernel-tracked peak (VmHWM) plus the largest sum of the workers'
    proportional set sizes (Pss, so pages forked workers share count once)
    seen by a twice-a-second poll of ``/proc``. Only Python processes count
    as workers: the JVM also spawns short-lived helpers (Hadoop's shell
    calls), which share the JVM's memory until they exec."""

    def __init__(self):
        super().__init__(daemon=True)
        self._stop_evt = threading.Event()
        self.jvm_kb = 0
        self.workers_kb = 0

    def run(self) -> None:
        while not self._stop_evt.wait(0.5):
            self.sample()

    @staticmethod
    def _kb(pid: int, file: str, field: str) -> int:
        try:
            with open(f"/proc/{pid}/{file}") as f:
                for line in f:
                    if line.startswith(field):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        children: dict[int, list[tuple[int, str]]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            comm, rest = stat[stat.index("(") + 1:].rsplit(")", 1)
            children.setdefault(int(rest.split()[1]), []).append((int(entry), comm))
        workers = 0
        for jvm, _ in children.get(os.getpid(), []):
            self.jvm_kb = max(self.jvm_kb, self._kb(jvm, "status", "VmHWM:"))
            todo = list(children.get(jvm, []))
            while todo:
                pid, comm = todo.pop()
                todo.extend(children.get(pid, []))
                if comm.startswith("python"):
                    workers += self._kb(pid, "smaps_rollup", "Pss:")
        self.workers_kb = max(self.workers_kb, workers)

    def stop(self) -> float:
        """Stop polling (if still polling); return the peak in MB."""
        if self.is_alive():
            self._stop_evt.set()
            self.join()
            self.sample()
        return (self.jvm_kb + self.workers_kb) / 1024.0


def noise_ctl(spark) -> float:
    """bench.py's same-window box-noise control: a fixed pure-JVM sha2 chain,
    1.2M rows per core. One pass, run after warm-up; a reading well above
    its idle value flags a contended window."""
    from pyspark.sql import functions as F

    c = F.col("id").cast("string")
    for _ in range(4):
        c = F.sha2(c, 256)
    n = cpus()
    plan = spark.range(0, 1_200_000 * n, 1, n).select(c.alias("h"))
    t0 = time.monotonic()
    plan.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def source_digest() -> str:
    h = hashlib.sha256()
    for base in (ROOT / "entity_resolver_spark", HERE):
        for p in sorted(base.rglob("*.py")):
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:16]


def parquet_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*.parquet"))


# -- inputs ------------------------------------------------------------------
@dataclass
class Inputs:
    data: dict
    delivery: Path  # the table the timed operation consumes
    prior: Path | None  # incremental: the table the set-up run consumes
    union: Path | None  # incremental: the whole corpus, for the batch comparison
    delivered_convs: int = 0
    delivered_turns: int = 0


def write_table(spark, pdf, path: Path) -> None:
    from entity_resolver_spark import datagen

    datagen.to_spark(spark, pdf).write.mode("overwrite").parquet(str(path))


def build_inputs(
    spark, w: Workload, seed: int, run_dir: Path, with_union: bool = False
) -> Inputs:
    data = generate(w, seed)
    tr = data["transcripts"]
    inp = Inputs(data, run_dir / "in_delivery", None, None)
    if w.kind == "incremental":
        prior, delivery = split_delivery(tr, w, seed)
        inp.prior = run_dir / "in_prior"
        write_table(spark, prior, inp.prior)
        if with_union:
            inp.union = run_dir / "in_union"
            write_table(spark, tr, inp.union)
    else:
        delivery = tr
    write_table(spark, delivery, inp.delivery)
    inp.delivered_convs = delivery["conv_id"].nunique()
    inp.delivered_turns = len(delivery)
    return inp


# -- the timed operation -----------------------------------------------------
def run_batch(spark, table: Path, wh: Path) -> float:
    from entity_resolver_spark.plans.pipeline import ResolutionPipeline

    t0 = time.monotonic()
    ResolutionPipeline(spark, str(wh)).run(spark.read.parquet(str(table)), resume=False)
    return time.monotonic() - t0


def run_fold(spark, table: Path, wh: Path) -> float:
    from entity_resolver_spark.plans.pipeline import ResolutionPipeline

    t0 = time.monotonic()
    ResolutionPipeline(spark, str(wh)).run_incremental(spark.read.parquet(str(table)))
    return time.monotonic() - t0


# -- output checks -----------------------------------------------------------
@dataclass
class Checked:
    problems: list[str]
    digest: str
    pair_f1: float
    cluster_f1: float
    assignment: dict


def check_outputs(spark, wh: Path, data: dict) -> Checked:
    """Every input conv_id appears exactly once in ``clusters``; each
    cluster_id is its smallest member id; strict pairwise F1 meets the
    target. Returns the checks' failures, the assignment digest and the
    quality figures."""
    from entity_resolver_spark.operators.evaluation import cluster_report
    from entity_resolver_spark.plans.pipeline import evaluate_pairs
    from entity_resolver_spark.sources.catalog import Warehouse

    store = Warehouse(spark, str(wh))
    clusters_df = store.read("clusters")
    clusters = clusters_df.toPandas()
    expected_ids = set(data["expected_clusters"]["conv_id"])
    problems = []
    if clusters["conv_id"].duplicated().any():
        problems.append("a conv_id appears more than once in clusters")
    got = set(clusters["conv_id"])
    if got != expected_ids:
        problems.append(
            f"clusters misses {len(expected_ids - got)} and adds {len(got - expected_ids)} conv_ids"
        )
    smallest = clusters.groupby("cluster_id")["conv_id"].min()
    if not (smallest.index == smallest.values).all():
        problems.append("a cluster_id is not its smallest member id")
    rows = sorted(zip(clusters["conv_id"], clusters["cluster_id"]))
    digest = hashlib.sha256(
        "".join(f"{a}\t{b}\n" for a, b in rows).encode()
    ).hexdigest()
    labeled = spark.createDataFrame(data["labeled_pairs"])
    expected = spark.createDataFrame(data["expected_clusters"])
    pair_f1 = evaluate_pairs(store.read("scored"), labeled)["f1"]
    if pair_f1 < MIN_PAIR_F1:
        problems.append(f"pair_f1 {pair_f1:.4f} below {MIN_PAIR_F1}")
    cluster_f1 = cluster_report(clusters_df, expected).collect()[0]["pair_f1"]
    return Checked(problems, digest, pair_f1, cluster_f1, dict(rows))


def check_digest(key: str, digest: str) -> str | None:
    """Compare with the digest stored by the first operation of this workload
    and seed on this program source; store it when there is none."""
    path = WORK / "digests.json"
    known = json.loads(path.read_text()) if path.exists() else {}
    first = known.setdefault(key, digest)
    if first == digest:
        tmp = path.with_suffix(".tmp")
        tmp.write_text(json.dumps(known, indent=1, sort_keys=True))
        os.replace(tmp, path)
        return None
    return f"cluster digest {digest[:12]} differs from the first operation's {first[:12]}"


# -- one benchmark run -------------------------------------------------------
class Run:
    def __init__(self, args: argparse.Namespace, run_dir: Path, conf: dict[str, str]):
        self.args = args
        self.w = WORKLOADS[args.workload]
        self.dir = run_dir
        self.conf = conf
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.digest_key = f"{self.w.name}:{args.seed}:{source_digest()}"
        self.check_s: list[float] = []
        self.spark = None
        self.rss = PeakRSS()

    def restart(self, conf: dict[str, str]):
        """A new Spark session with ``conf`` in the same JVM."""
        self.spark.stop()
        self.spark = start_session(conf)
        return self.spark

    def close(self) -> None:
        self.rss.stop()
        if self.spark is not None:
            shutdown(self.spark)
            self.spark = None

    def log(self, **kw) -> None:
        print("perfbench " + json.dumps(kw, default=str), file=sys.stderr, flush=True)

    def fresh_warehouse(self, name: str) -> Path:
        """An empty warehouse, or for the fold a fresh copy of the prior run's."""
        wh = self.dir / name
        if self.w.kind == "incremental":
            shutil.copytree(self.dir / "wh_prior", wh)
        return wh

    def operate(self, spark, wh: Path) -> float:
        run = run_fold if self.w.kind == "incremental" else run_batch
        return run(spark, self.inputs.delivery, wh)

    def record(self, spark, wh: Path, digest_key: str | None) -> Checked | None:
        """Check one operation's outputs and count it as attempted, and as
        failed when a check fails."""
        self.attempted += 1
        try:
            c = check_outputs(spark, wh, self.inputs.data)
        except Exception as exc:  # a crashed check is a failed operation
            self.failed += 1
            self.problems.append(f"check raised {exc!r}")
            return None
        if digest_key is not None:
            bad = check_digest(digest_key, c.digest)
            if bad:
                c.problems.append(bad)
        if c.problems:
            self.failed += 1
            self.problems.extend(c.problems)
        return c

    # -- set-up ---------------------------------------------------------
    def setup(self):
        t0 = time.monotonic()
        spark = self.spark = start_session(self.conf)
        self.rss.start()
        session_s = time.monotonic() - t0
        t0 = time.monotonic()
        self.inputs = build_inputs(
            spark, self.w, self.args.seed, self.dir, with_union=bool(self.args.trace)
        )
        data_s = time.monotonic() - t0
        # Warm-up: code generation and JIT for the plans the timed operation
        # runs are paid before it, as in a driver that has resolved before.
        # The incremental prior run is its warm-up; batch runs one untimed
        # operation on the same input into a throwaway warehouse, whose
        # output is checked like a timed one's: every batch run compares the
        # digests of two operations on the same input.
        prior_s = warm_s = 0.0
        if self.w.kind == "incremental":
            prior_s = run_batch(spark, self.inputs.prior, self.dir / "wh_prior")
        else:
            warm = self.fresh_warehouse("wh_warm")
            warm_s = self.operate(spark, warm)
            self.record(spark, warm, self.digest_key)
            shutil.rmtree(warm)
        self.noise_ctl_s = noise_ctl(spark)
        self.setup_parts = {
            "session_s": session_s, "warmup_s": warm_s,
            "data_s": data_s, "prior_run_s": prior_s,
        }
        return spark

    def timed_loop(self, spark) -> tuple[list[float], list[float], Checked, Path]:
        """Operations back to back until ``--seconds`` of measuring is spent
        (at least one). Each gets a fresh warehouse; preparing it is set-up.
        Returns the times, the preparation times, the first operation's
        checks and the last operation's warehouse."""
        times, prep = [], []
        first, wh = None, None
        while not times or sum(times) < self.args.seconds:
            if wh is not None:
                shutil.rmtree(wh)
            t0 = time.monotonic()
            wh = self.fresh_warehouse(f"wh_{len(times)}")
            prep.append(time.monotonic() - t0)
            times.append(self.operate(spark, wh))
            t0 = time.monotonic()
            c = self.record(spark, wh, self.digest_key)
            self.check_s.append(time.monotonic() - t0)
            first = first or c
        if first is None:
            raise RuntimeError("every operation failed: " + "; ".join(self.problems))
        return times, prep, first, wh

    def pairs_table(self) -> str:
        return "pairs_new" if self.w.kind == "incremental" else "pairs"

    # -- trace 0 ----------------------------------------------------------
    def end_to_end(self) -> dict[str, float]:
        from entity_resolver_spark.sources.catalog import Warehouse

        spark = self.setup()
        times, prep, c, wh = self.timed_loop(spark)
        peak_mb = self.rss.stop()
        n_pairs = Warehouse(spark, str(wh)).read(self.pairs_table()).count()
        self.close()
        resolve_s = statistics.median(times)
        self.log(resolve_samples=times, check_s=self.check_s,
                 jvm_hwm_mb=self.rss.jvm_kb / 1024,
                 workers_peak_mb=self.rss.workers_kb / 1024,
                 noise_ctl_s=self.noise_ctl_s, **self.setup_parts)
        return {
            "resolve_s": resolve_s,
            "records_per_s": self.inputs.delivered_convs / resolve_s,
            "pairs_per_s": n_pairs / resolve_s,
            "setup_s": sum(self.setup_parts.values()) + statistics.median(prep),
            "pair_f1": c.pair_f1,
            "cluster_f1": c.cluster_f1,
            "peak_rss_mb": peak_mb,
        }

    # -- trace 1 ----------------------------------------------------------
    def untraced(self, spark) -> list[float]:
        times, _, _, wh = self.timed_loop(spark)
        shutil.rmtree(wh)
        return times

    def per_layer(self) -> dict[str, float]:
        """Untraced operations, a traced operation, untraced operations, each
        group in its own Spark session of one JVM with the event log on only
        in the middle one. The untraced times bracket the traced one."""
        from tracing import Tracer, rollup

        spark = self.setup()
        events = self.dir / "events"
        events.mkdir()
        untraced = self.untraced(spark)
        spark = self.restart({
            **self.conf,
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events.as_uri(),
            "spark.eventLog.compress": "false",
        })
        wh = self.fresh_warehouse("wh_traced")
        with Tracer(spark, LAYER_OF[self.w.kind]) as tr:
            traced_s = self.operate(spark, wh)
        c = self.record(spark, wh, self.digest_key)
        counts = self.layer_counts(spark, wh)
        mismatch = 0
        if self.w.kind == "incremental" and c is not None:
            union_wh = self.dir / "wh_union"
            run_batch(spark, self.inputs.union, union_wh)
            u = self.record(spark, union_wh, None)
            if u is not None:
                mismatch = sum(
                    1 for k, v in c.assignment.items() if u.assignment.get(k) != v
                )
        # The session builder keeps earlier options: switch the event log off.
        spark = self.restart({**self.conf, "spark.eventLog.enabled": "false"})
        untraced += self.untraced(spark)
        self.close()
        untraced_s = statistics.mean(untraced)
        roll = rollup(str(events), tr.group_layer)
        busy = tr.busy_by_stage()
        bytes_written = sum(r["output_bytes"] for r in roll.values())
        m = {
            "transcripts.busy_s": busy.get("records", 0.0),
            "transcripts.turns_in": self.inputs.delivered_turns,
            "features.vectors_busy_s": busy.get("vectors", 0.0),
            "features.pair_inputs_busy_s": busy.get("pair_inputs", 0.0),
            "blocking.busy_s": busy.get(self.pairs_table(), 0.0),
            **counts,
            "scoring.busy_s": busy.get("scored", 0.0),
            "clustering.busy_s": busy.get("clusters", 0.0),
            "clustering.jobs": roll.get("clustering", {}).get("jobs", 0),
            "catalog.write_s": tr.catalog_s(),
            "catalog.bytes_written": bytes_written,
            "catalog.write_amp": bytes_written / parquet_bytes(self.inputs.delivery),
            "pipeline.unattributed_s": traced_s - tr.stage_span_total(),
            "pipeline.incr_batch_mismatch": mismatch,
            "trace.overhead_s": traced_s - untraced_s,
            "box.noise_ctl_s": self.noise_ctl_s,
        }
        for layer in LAYERS:
            r = roll.get(layer, {})
            for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                      "executor_cpu_s"):
                m[f"{layer}.{k}"] = r.get(k, 0)
            m[f"{layer}.task_skew"] = r.get("task_skew", 1.0)
        self.log(
            traced_s=traced_s, untraced_s=untraced,
            stage_share={k: round(v / traced_s, 4) for k, v in busy.items()},
            catalog_share=round(tr.catalog_s() / traced_s, 4),
            spans=[{**s, "start": round(s["start"] - tr.t0, 3),
                    "end": round(s["end"] - tr.t0, 3)} for s in tr.spans],
            # task metrics per job group, i.e. per stage span (s<n>) and per
            # catalog child of it (c<n>)
            span_tasks=rollup(str(events), {g: g for g in tr.group_layer}),
        )
        return m

    def layer_counts(self, spark, wh: Path) -> dict[str, float]:
        """Work and useful-work counts read from the committed tables after
        the traced operation (outside its timing)."""
        from pyspark.sql import functions as F

        from entity_resolver_spark.config import EngineConfig
        from entity_resolver_spark.operators.blocking import all_blocks, hot_block_metrics
        from entity_resolver_spark.operators.scoring import Model
        from entity_resolver_spark.sources.catalog import Warehouse

        cfg = EngineConfig()
        store = Warehouse(spark, str(wh))
        records = store.read("records")
        op_pairs = store.read(self.pairs_table()).select("left", "right")
        scored = store.read("scored")
        hb = hot_block_metrics(all_blocks(records, cfg), cfg).collect()[0]
        labeled = spark.createDataFrame(self.inputs.data["labeled_pairs"])
        positives = labeled.where("match").select(
            F.least("left", "right").alias("left"),
            F.greatest("left", "right").alias("right"),
        ).distinct()
        found = positives.join(
            store.read("pairs").select("left", "right"), ["left", "right"], "left_semi"
        ).count()
        entity = spark.createDataFrame(self.inputs.data["expected_clusters"])
        n_pairs = op_pairs.count()
        true_pairs = (
            op_pairs.join(entity.toDF("left", "le"), "left")
            .join(entity.toDF("right", "re"), "right")
            .where("le = re")
            .count()
        )
        op_scored = (
            scored.join(op_pairs, ["left", "right"], "left_semi")
            if self.w.kind == "incremental" else scored
        )
        n_scored, n_match = op_scored.agg(
            F.count(F.lit(1)), F.sum(F.col("is_match").cast("long"))
        ).collect()[0]
        edge_t = max(cfg.min_edge_confidence, Model.default().edge_threshold)
        edges_in = scored.where(F.col("is_match") & (F.col("proba") >= edge_t)).count()
        max_size = (
            store.read("clusters").groupBy("cluster_id").count()
            .agg(F.max("count")).collect()[0][0]
        )
        return {
            "blocking.pairs_out": n_pairs,
            "blocking.pairs_per_record": n_pairs / self.inputs.delivered_convs,
            "blocking.hot_blocks": int(hb["n_hot_blocks"]),
            "blocking.forgone_pairs": int(hb["forgone_pairs"]),
            "blocking.recall": found / positives.count(),
            "blocking.yield": true_pairs / n_pairs if n_pairs else 0.0,
            "scoring.match_frac": (n_match or 0) / n_scored if n_scored else 0.0,
            "clustering.edges_in": edges_in,
            "clustering.max_size": max_size,
        }


def require_program() -> None:
    """Exit non-zero, without a result, when the checkout holds no program."""
    if not (ROOT / "entity_resolver_spark" / "plans" / "pipeline.py").is_file():
        sys.exit(f"perfbench: no entity_resolver_spark package under {ROOT}")


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    require_program()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    specs = bench["per_layer" if args.trace else "end_to_end"]
    run_dir = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    conf = configure_env(run_dir)
    sys.path.insert(0, str(ROOT))
    run = Run(args, run_dir, conf)
    try:
        values = run.per_layer() if args.trace else run.end_to_end()
    finally:
        try:
            run.close()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    differ = set(values) ^ {s["name"] for s in specs}
    if differ:
        raise RuntimeError(f"metric set differs from BENCHMARK.json: {sorted(differ)}")
    if run.problems:
        run.log(problems=run.problems)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {s["name"]: {"value": values[s["name"]], "unit": s["unit"]} for s in specs},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
