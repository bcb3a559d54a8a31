"""kg pipeline benchmark: one workload per process, one pipeline run at a time.

    python3 perfbench/run.py --workload kg_lazy --seed 1 --seconds 15 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` before
anything is timed and cached under ``.perfbench/cache``. The Spark session
runs ``local[nproc]`` with ``2 x nproc`` shuffle partitions; its local dirs,
temp files and checkpoint roots live under ``.perfbench/run`` and are wiped
at the start and end of every run.

Each run sets the session up several times (session start plus dictionary
build; the median is ``setup_s``), makes one cold pipeline run, then warm
runs for ``--seconds`` (the first left out as warm-up), and validates the
output against the gold triples outside the timed section. ``--trace 1`` does the same and
then reports the per-layer metrics instead: it repeats warm runs in a fresh
SparkContext with Spark's event log on and spans recorded (the difference
is ``trace.overhead_s``), then probes single layers: the alias verdict, the
kernel's phases on fixture pages and on long-sentence list pages, noop-sink
prefixes of the lazy plan, and the checkpointing orchestrator's stages.

The last line of stdout is the result: ``{"correct", "attempted", "failed",
"metrics"}``. The line before it (``perfbench-context ...``) records the
host (nproc, loadavg, a calibration loop), the session settings and the raw
samples.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


@dataclass(frozen=True)
class Workload:
    mode: str  # "lazy" (bench.py's call) or "checkpointed" (main.py's call)
    pages: int  # fixture pages


# Sizes keep one run (three set-ups, the cold run, a 15 s window) near
# 50 s on a 4-vCPU host, so many runs per workload fit in an hour.
WORKLOADS = {
    "kg_lazy": Workload("lazy", 50_000),
    "kg_checkpointed": Workload("checkpointed", 5_000),
}
SETUPS = 3  # session set-ups per run; setup_s is their median
MIN_WARM = 1  # measured warm runs per run, whatever --seconds says
TRACED_OPS = 2  # traced runs in a --trace 1 run
SLICE_PAGES = 2_000  # traced-run warm-up and orchestrator-probe corpus
KERNEL_SAMPLE = 2_000  # pages in the kernel-phase probe batch
LONGSENT_SAMPLE = 3  # list pages in the long-sentence kernel probe batch

E2E_METRICS = {
    "docs_per_s": "1/s",
    "cpu_ms_per_doc": "ms",
    "cold_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
STAGES = (
    "text_extracted", "sentences", "mentions", "linked",
    "triples_raw", "components", "triples",
)
LAYER_METRICS = {
    "session.launch_s": "s",
    "session.start_s": "s",
    "dict.build_s": "s",
    "link.verdict_s": "s",
    **{f"kernel.{p}_us_per_doc": "us" for p in ("extract", "split", "tag", "bio", "pair", "other", "total")},
    "kernel.extract_fallback_frac": "fraction",
    "kernel.sentences": "count/doc",
    "kernel.spans": "count/doc",
    "kernel.pairs_examined": "count/doc",
    "kernel.pairs_matched": "count/doc",
    "longsent.pair_us_per_doc": "us",
    "longsent.total_us_per_doc": "us",
    "longsent.pairs_examined": "count/doc",
    "prefix.scan_s": "s",
    "prefix.arrow_ipc_s": "s",
    "prefix.crossing_s": "s",
    "prefix.triples_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.input_records": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.task_skew": "ratio",
    **{f"stage.{s}_s": "s" for s in STAGES},
    "orchestrator.overhead_s": "s",
    "orchestrator.wall_s": "s",
    "ckpt_bytes_per_doc": "bytes",
    "trace.overhead_s": "s",
    "host.load1": "load",
    "host.calib_ms": "ms",
}


def _load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _calib_ms() -> float:
    """A fixed pure-Python loop: how fast this host runs Python right now."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc += i * i % 7
    return (time.perf_counter() - t0) * 1e3


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Run:
    """One benchmark process: session, inputs and the operations on them."""

    def __init__(self, name: str, seed: int, seconds: float, trace: bool):
        from perfbench.trace import Tracer

        self.name, self.wl = name, WORKLOADS[name]
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.nproc = len(os.sched_getaffinity(0))
        self.run_dir = os.path.join(WORK, "run")
        self.tracer = Tracer(False)
        self.attempted = self.failed = 0
        self.spark = None
        self.samples: dict[str, list] = {}
        # JVM heap: a quarter of RAM, at most 2g (the host is shared)
        self.mem_g = max(1, min(2, os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**30 // 4))

    # ------------------------------------------------------------ setup

    def prepare(self) -> None:
        from perfbench.inputs import CorpusSpec, ensure_corpus

        shutil.rmtree(self.run_dir, ignore_errors=True)
        for d in ("local", "tmp", "eventlog", "warehouse"):
            os.makedirs(os.path.join(self.run_dir, d))
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "local")
        os.environ["TMPDIR"] = os.path.join(self.run_dir, "tmp")
        os.environ["KG_DRIVER_MEM"] = f"{self.mem_g}g"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR
        cache = os.path.join(WORK, "cache")
        os.makedirs(cache, exist_ok=True)
        self.corpus = ensure_corpus(
            CorpusSpec(self.name, self.wl.pages, 0, self.seed), cache, self.nproc
        )
        if self.trace:
            self.slice = ensure_corpus(
                CorpusSpec(self.name + "_slice", SLICE_PAGES, 0, self.seed), cache, self.nproc
            )
            self.lists = ensure_corpus(
                CorpusSpec(self.name + "_lists", 0, LONGSENT_SAMPLE, self.seed), cache, self.nproc
            )

    def settings(self) -> dict:
        return {
            "master": f"local[{self.nproc}]",
            "spark.sql.shuffle.partitions": 2 * self.nproc,
            "KG_DRIVER_MEM": f"{self.mem_g}g",
            "SPARK_LOCAL_DIRS": os.path.relpath(os.environ["SPARK_LOCAL_DIRS"], ROOT),
            "docs": self.corpus.n_docs,
        }

    def start_session(self, eventlog: bool = False) -> float:
        from kg.session import build_session

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            # a fixed-size heap: a growing one adds GC-timing noise to peak RSS
            "spark.driver.extraJavaOptions": (
                f"-Xms{self.mem_g}g -XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
            ),
        }
        if eventlog:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(self.run_dir, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        if self.spark is not None:
            self.spark.stop()
            _forget_udf_handles()
        t0 = time.monotonic()
        self.spark = build_session(
            app_name=f"perfbench-{self.name}",
            master=f"local[{self.nproc}]",
            shuffle_partitions=2 * self.nproc,
            extra_conf=conf,
        )
        return time.monotonic() - t0

    def build_dictionary(self) -> float:
        """The dictionary inputs the workload's call takes: aliases and
        entity vectors, plus (lazy) the prebuilt component map, as bench.py
        builds them."""
        from kg import fixtures as FX

        t0 = time.monotonic()
        self.aliases = FX.aliases_df(self.spark)
        self.evecs = FX.entity_vecs_df(self.spark)
        self.comps = None
        if self.wl.mode == "lazy":
            self.comps = self._components()
        return time.monotonic() - t0

    def _components(self):
        from kg.pipeline import stage_components

        rows = stage_components(self.aliases).collect()  # dictionary-sized
        return self.spark.createDataFrame(rows, "id long, component long")

    def setup(self) -> None:
        starts, dicts = [], []
        for _ in range(SETUPS):
            with self.tracer.span("setup"):
                starts.append(self.start_session())
                dicts.append(self.build_dictionary())
        self.samples["session_s"] = starts
        self.samples["dict_s"] = dicts
        self.samples["setup_s"] = [a + b for a, b in zip(starts, dicts)]

    # --------------------------------------------------------------- ops

    def _pipeline(self, pages_path: str, ckpt_root: str | None, collect: bool = False):
        from kg import fixtures as FX
        from kg.pipeline import run_pipeline
        from kg.session import PIPELINE_SCAN_CONF, scoped_conf

        spark = self.spark
        if ckpt_root is None:  # bench.py's call
            pages = spark.read.parquet(pages_path)
            t0 = time.monotonic()
            with scoped_conf(spark, PIPELINE_SCAN_CONF):
                res = run_pipeline(
                    spark, pages, self.aliases, self.evecs, components=self.comps
                )
                if collect:
                    res["out"] = res["triples"].select(*GOLD_COLUMNS).toPandas()
                else:
                    res["triples"].write.format("noop").mode("overwrite").save()
            return time.monotonic() - t0, res
        t0 = time.monotonic()  # main.py's call
        res = run_pipeline(
            spark,
            spark.read.parquet(pages_path),
            FX.aliases_df(spark),
            FX.entity_vecs_df(spark),
            checkpoint_root=ckpt_root,
        )
        res["triples"].count()
        wall = time.monotonic() - t0
        res["out"] = res["triples"].select(*GOLD_COLUMNS).toPandas()  # the checkpoint
        return wall, res

    def op(self, corpus=None, label: str | None = None, validate: bool = False,
           mode: str | None = None):
        """One pipeline run over ``corpus`` (default: the workload's) in
        ``mode`` (default: the workload's). Checkpointed runs are always
        validated, from the triples table they wrote; a lazy run with
        ``validate`` collects its triples instead of writing them to the
        noop sink. Returns a sample dict, or None if the run failed or its
        output was wrong (both count as a failed operation)."""
        from perfbench.procstat import tree_cpu_s

        corpus = corpus or self.corpus
        mode = mode or self.wl.mode
        ckpt = os.path.join(self.run_dir, "ckpt") if mode == "checkpointed" else None
        if ckpt:
            shutil.rmtree(ckpt, ignore_errors=True)
        sc = self.spark.sparkContext
        sc.setLocalProperty("perfbench.op", label)
        self.attempted += 1
        try:
            with self.tracer.span("run_pipeline", label=label):
                cpu0 = tree_cpu_s()
                wall, res = self._pipeline(corpus.pages_path, ckpt, collect=validate)
                cpu = tree_cpu_s() - cpu0
            sample = {"wall": wall, "cpu": cpu, "docs": corpus.n_docs}
            if ckpt:
                sample["log"] = res["_orchestrator"].log
                sample["ckpt_bytes"] = _du(ckpt)
            if "out" in res and not _valid(res["out"], corpus):
                self.failed += 1
                return None
            return sample
        except Exception:  # a failed run is counted, and the run goes on
            traceback.print_exc()
            self.failed += 1
            return None
        finally:
            sc.setLocalProperty("perfbench.op", None)

    def measure(self) -> None:
        """Cold run, its output validated, then warm runs for --seconds (at
        least MIN_WARM after the first). The first warm run is not used:
        it is still markedly slower than later ones (JIT warm-up), and
        whether a window holds two or three runs would otherwise decide
        how much of it the median carries."""
        cold = self.op(validate=True)
        self.samples["cold"] = [cold["wall"]] if cold else []
        t_end = time.monotonic() + self.seconds
        self.op()
        runs = []
        while len(runs) < MIN_WARM or time.monotonic() < t_end:
            runs.append(self.op())
        self.samples["warm"] = [s for s in runs if s]

    # ------------------------------------------------------------ report

    def e2e(self) -> dict[str, float]:
        warm = self.samples["warm"]
        if not warm or not self.samples["cold"]:
            return {k: 0.0 for k in E2E_METRICS}
        return {
            "docs_per_s": statistics.median(s["docs"] / s["wall"] for s in warm),
            "cpu_ms_per_doc": statistics.median(1e3 * s["cpu"] / s["docs"] for s in warm),
            "cold_s": self.samples["cold"][0],
            "setup_s": statistics.median(self.samples["setup_s"]),
            "peak_rss_mb": self.peak_rss_mb,
        }

    # ------------------------------------------------------- traced run

    def traced(self) -> dict[str, float]:
        """Per-layer metrics (see the module docstring)."""
        from perfbench import kernel
        from perfbench.trace import eventlog_metrics

        untraced = statistics.median(s["wall"] for s in self.samples["warm"]) if self.samples["warm"] else 0.0
        out: dict[str, float] = {
            "session.launch_s": self.samples["session_s"][0],
            "session.start_s": statistics.median(self.samples["session_s"]),
            "dict.build_s": statistics.median(self.samples["dict_s"]),
        }
        self.tracer.enabled = True
        with self.tracer.span("setup.traced"):
            self.start_session(eventlog=True)
            self.build_dictionary()
        with self.tracer.span("warmup"):
            self.op(self.slice)
        traced = [self.op(label=f"op{k}") for k in range(TRACED_OPS)]
        traced = [s for s in traced if s]
        out["trace.overhead_s"] = (
            statistics.median(s["wall"] for s in traced) - untraced if traced else 0.0
        )

        with self.tracer.span("probe.verdict"):
            out["link.verdict_s"] = self._verdict_s()
        with self.tracer.span("probe.kernel"):
            out.update(kernel.measure(self.corpus.sample(KERNEL_SAMPLE)))
        with self.tracer.span("probe.longsent"):
            ls = kernel.measure(self.lists.sample(LONGSENT_SAMPLE))
            for k in ("pair_us_per_doc", "total_us_per_doc", "pairs_examined"):
                out[f"longsent.{k}"] = ls[f"kernel.{k}"]
        with self.tracer.span("probe.prefix"):
            out.update(self._prefixes())
        with self.tracer.span("probe.orchestrator"):
            out.update(self._orchestrator(traced))

        self.spark.stop()
        self.spark = None
        out.update(eventlog_metrics(
            os.path.join(self.run_dir, "eventlog"), [f"op{k}" for k in range(TRACED_OPS)]
        ))
        return out

    def _verdict_s(self) -> float:
        from kg.link import alias_verdicts_local

        times = []
        for _ in range(3):
            t0 = time.monotonic()
            alias_verdicts_local(self.aliases, self.evecs, k=1)
            times.append(time.monotonic() - t0)
        return statistics.median(times)

    def _prefixes(self) -> dict[str, float]:
        """Noop-sink prefixes of the lazy triples plan, shortest first."""
        from kg.pipeline import stage_triples, turbo_triples_raw
        from kg.session import PIPELINE_SCAN_CONF, scoped_conf

        comps = self.comps if self.comps is not None else self._components()
        pages = self.spark.read.parquet(self.corpus.pages_path).select("url", "html")

        def drain(batches):
            for b in batches:
                yield b.iloc[:0][["url"]]

        plans = {
            "prefix.scan_s": lambda: pages,
            "prefix.arrow_ipc_s": lambda: pages.mapInPandas(drain, "url string"),
            "prefix.crossing_s": lambda: turbo_triples_raw(pages, self.aliases, self.evecs),
            "prefix.triples_s": lambda: stage_triples(
                turbo_triples_raw(pages, self.aliases, self.evecs), comps
            ),
        }
        out = {}
        with scoped_conf(self.spark, PIPELINE_SCAN_CONF):
            for name, plan in plans.items():
                with self.tracer.span(name):
                    t0 = time.monotonic()
                    plan().write.format("noop").mode("overwrite").save()
                    out[name] = time.monotonic() - t0
        return out

    def _orchestrator(self, traced: list[dict]) -> dict[str, float]:
        """Stage times from the orchestrator log. The checkpointed workload
        reads its traced runs; the lazy ones run the checkpointed call on
        the slice corpus twice and read the second."""
        if self.wl.mode == "lazy":
            runs = [self.op(self.slice, mode="checkpointed") for _ in range(2)][1:]
        else:
            runs = traced
        runs = [r for r in runs if r]
        if not runs:
            return {}
        out = {}
        for st in STAGES:
            out[f"stage.{st}_s"] = statistics.median(
                sum(e.get("wall_ms", 0.0) for e in r["log"] if e["stage"] == st) / 1e3
                for r in runs
            )
        wall = statistics.median(r["wall"] for r in runs)
        out["orchestrator.wall_s"] = wall
        out["orchestrator.overhead_s"] = wall - sum(out[f"stage.{s}_s"] for s in STAGES)
        out["ckpt_bytes_per_doc"] = statistics.median(r["ckpt_bytes"] / r["docs"] for r in runs)
        return out


def _forget_udf_handles() -> None:
    """Drop the JVM function handles that kg's module-level UDFs cache on
    first use. A handle is bound to the SparkContext it was made in; reused
    in a later context, its tasks fail to report accumulator updates
    (``Broken pipe``). Clearing them makes a restarted context behave like
    a fresh process."""
    for name, mod in list(sys.modules.items()):
        if name == "kg" or name.startswith("kg."):
            for obj in vars(mod).values():
                udf = getattr(obj, "_unwrapped", None)
                if udf is not None and hasattr(udf, "_judf_placeholder"):
                    udf._judf_placeholder = None


GOLD_COLUMNS = ["subj", "pred", "obj", "url", "sent_id"]


def _valid(pdf, corpus) -> bool:
    """Exact set equality of (subj, pred, obj, url, sent_id) with gold."""
    rows = set(zip(*(pdf[c].tolist() for c in GOLD_COLUMNS)))
    want = corpus.gold_set()
    if rows != want:
        print(
            f"perfbench: output mismatch: {len(rows - want)} unexpected, "
            f"{len(want - rows)} missing of {len(want)} gold triples",
            file=sys.stderr,
        )
        return False
    return True


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "kg", "pipeline.py")):
        print(f"perfbench: no kg package under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # not perfbench/: its module names must not shadow others
    from perfbench.procstat import RssSampler, tree_pids, wait_gone

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    calib = [_calib_ms()]
    load_start = _load1()
    phases = {}
    t0 = time.monotonic()
    run.prepare()
    phases["inputs"] = time.monotonic() - t0
    spawned: list[int] = []
    try:
        with RssSampler() as rss:
            t0 = time.monotonic()
            run.setup()
            phases["setup"] = time.monotonic() - t0
            run.measure()
            phases["measure"] = time.monotonic() - t0 - phases["setup"]
            run.peak_rss_mb = rss.peak_mb
            if run.trace:
                metrics = run.traced()
                phases["traced"] = time.monotonic() - t0 - phases["setup"] - phases["measure"]
            else:
                metrics = run.e2e()
            spawned = tree_pids()
    finally:
        t0 = time.monotonic()
        spawned = spawned or tree_pids()
        if run.spark is not None:
            run.spark.stop()
        _shutdown_gateway()
        killed = wait_gone(spawned)
        phases["teardown"] = time.monotonic() - t0
        if run.trace:
            run.tracer.write(os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json"))
        shutil.rmtree(run.run_dir, ignore_errors=True)
    calib.append(_calib_ms())
    if run.trace:
        metrics["host.load1"] = load_start
        metrics["host.calib_ms"] = statistics.median(calib)
        metrics = {k: metrics.get(k, 0.0) for k in LAYER_METRICS}
        units = LAYER_METRICS
    else:
        units = E2E_METRICS
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": run.nproc,
        "loadavg": [load_start, _load1()],
        "calib_ms": calib,
        "settings": run.settings(),
        "samples": {
            "setup_s": run.samples.get("setup_s"),
            "cold_s": run.samples.get("cold"),
            "warm_s": [s["wall"] for s in run.samples.get("warm", [])],
            "warm_cpu_s": [s["cpu"] for s in run.samples.get("warm", [])],
        },
        "phases_s": phases,
        "killed_pids": killed,
    }
    print("perfbench-context " + json.dumps(context))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def _shutdown_gateway() -> None:
    """Close the py4j gateway so the JVM (and the Python daemon it runs)
    exits now rather than at interpreter exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
