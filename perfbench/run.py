"""KG-build benchmark: pages -> triples batch builds from the ``plans.kg`` kernels.

Run from the root of a checkout:

    python3 perfbench/run.py --workload build_fused --seed 1 --seconds 8 --trace 0

Each run is one process with one Spark session at ``local[<nproc>]`` and
one client that runs builds back to back (closed loop, no think time) until
the timed builds add up to ``--seconds``, at least one.  Set-up generates the
seeded pages and vocabulary, writes the pages table, materializes the
crosswalk and the canonical map, and runs one untimed warm-up build, so the
JVM has compiled the kernels' plans and every task slot has started its
Python worker before timing.  A build chains the kernels the way
``plans.runner.run_pipeline`` does on the workload's path and materializes
each kernel's output as parquet, so a build is committed when its triples
are written.

Checks, outside the timed region, on every build: triple precision and
recall >= 0.95 against the triples the generator planted, per (subj_id,
pred_id, obj_id, url), and no such key committed twice.  On the path that
materializes extracted text, the first build must also have zero mismatched
pages in the byte-identical text check (``validation_report``).  A failed
check counts the build as failed, marks the run incorrect and exits non-zero.

The last stdout line is the result object; earlier ``#`` lines record the
host, versions, seed, build count and each build's time.  The metric names
and units are those ``BENCHMARK.json`` lists.  ``--trace 1`` writes an
uncompressed Spark event log and prints the per-layer metrics instead
(``perfbench/METRICS.md``).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

from spans import Tracer

ROOT = Path(__file__).resolve().parents[1]

# Input sizes: a run (fresh JVM, set-up, warm-up, timed builds, checks)
# stays near a minute on a 4-core host, where set-up alone takes 30-50 s.
WORKLOADS = {
    # default path: broadcast vocabulary, fused Arrow kernel
    "build_fused": {"n_pages": 16_000, "broadcast_vocab": True},
    # the path run_pipeline takes past MAX_BROADCAST_VOCAB: salted join
    # against the generator's hot-subject skew, no fused kernel
    "build_salted": {"n_pages": 3_000, "broadcast_vocab": False},
}

MIN_PR = 0.95

TRIPLE_KEY = ("subj_id", "pred_id", "obj_id", "url")


def load_metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json lists them."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


# --- host and session ---------------------------------------------------------


def host_profile() -> dict:
    mem_kib = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kib = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mib": mem_kib // 1024,
        "python": platform.python_version(),
    }


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot.  Time the hypervisor gave
    this host's CPUs to others; a run's share of it is printed with its
    results, because every timing here slows down with it."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def configure_env(host: dict, work: Path) -> str:
    """Size the session to this host from outside the program, and keep
    every file Spark or the workers write inside ``work``."""
    heap_mib = min(host["mem_total_mib"] // 2, 2048)
    for sub in ("tmp", "local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(host["nproc"]),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mib}m",
        "SPARK_GRAFT_SANDBOX": "0",
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(work / "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'}",
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    })
    sys.path.insert(0, str(ROOT))
    return f"{heap_mib}m"


def start_session(host: dict, work: Path, trace: bool):
    from i2o_transform_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{host['nproc']}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _worker_package_dir(batches):
    import pandas as pd

    import i2o_transform_spark

    for _ in batches:
        yield pd.DataFrame({"path": [os.path.dirname(i2o_transform_spark.__file__)]})


def check_worker_imports(spark) -> None:
    """The Python workers must import the package from this checkout."""
    import i2o_transform_spark

    here = os.path.dirname(i2o_transform_spark.__file__)
    worker = spark.range(1).mapInPandas(_worker_package_dir, "path string").collect()[0].path
    if worker != here:
        raise RuntimeError(f"workers import {worker}, this process imports {here}")


def peak_rss_mb(spark) -> float:
    """VmHWM of the JVM plus every process below it (the Python workers)."""
    jvm = spark.sparkContext._gateway.proc.pid
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    total_kib, todo = 0, [jvm]
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kib += int(line.split()[1])
        except OSError:
            pass
    return total_kib / 1024


def stop_session(spark) -> None:
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# --- the build workload -------------------------------------------------------


class Build:
    """Pages -> triples, one committed triples table per operation."""

    def __init__(self, spark, work: Path, tracer: Tracer, seed: int,
                 n_pages: int, broadcast_vocab: bool):
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.seed = seed
        self.n_pages = n_pages
        self.fused = broadcast_vocab
        self.extraction_checked = False

    def _write(self, df, name: str, op_dir: Path):
        path = str(op_dir / name)
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def _golden(self, d) -> set[tuple]:
        """The triples the generator planted, one per (subj_id, pred_id,
        obj_id, url): the granularity ``link_and_emit`` commits.  The same
        mapping that gives ``golden_triples`` (each sentence's chosen surfaces
        through the spec's canonical ids), keeping the page url.  The pages
        are generated without the planted ambiguity, so a subject is always
        its surface's mapping."""
        from pyspark.sql import functions as F

        spec = d["spec"]
        ent = [cids for _, cids in spec.entity_surfaces]
        pred = [cids for _, cids in spec.pred_surfaces]
        choices = (
            d["pages_internal"].where(F.col("lang") == "en")
            .select("url", "_choices.subj_i", "_choices.pred_i", "_choices.obj_i")
            .toPandas()
        )
        golden = set()
        for url, subj, pred_i, obj in choices.itertuples(index=False):
            for si, pi, oi in zip(subj, pred_i, obj):
                golden.update((s, p, o, url) for s in ent[si] for p in pred[pi] for o in ent[oi])
        return golden

    def setup(self) -> None:
        from i2o_transform_spark.datagen import generate
        from i2o_transform_spark.plans import kg

        inputs = self.work / "inputs"
        with self.tracer.span("datagen.generate"):
            d = generate(self.spark, self.n_pages, self.seed)
            # pages and the golden both derive from pages_internal:
            # generate it once for the two
            d["pages_internal"].persist()
            self.pages = self._write(d["pages"], "pages", inputs)
            self.golden = self._golden(d)
            d["pages_internal"].unpersist()
        with self.tracer.span("plans.kg.compile_crosswalk"):
            self.cw = self._write(
                kg.compile_crosswalk(d["surface_vocab"], d["concept"], d["concept_rel"]),
                "crosswalk", inputs,
            )
        with self.tracer.span("plans.kg.canonicalize_concepts"):
            self.cm = self._write(kg.canonicalize_concepts(self.cw), "canon_map", inputs)
        self.mc = d["modifier_config"]
        self.kinds = tuple(r.kind for r in self.mc.select("kind").collect())
        # a full-size build: per-job cost dominates these builds, so a smaller
        # one costs nearly as much and leaves the first timed build slower
        with self.tracer.span("bench.warmup"):
            self.build(self.pages, self.work / "warmup")

    def build(self, pages, op_dir: Path):
        """One build over ``pages``; returns the committed triples."""
        from pyspark.sql import functions as F

        from i2o_transform_spark.plans import kg

        span, write = self.tracer.span, self._write
        en = F.col("lang") == "en"
        if self.fused:
            with span("plans.kg.extract_and_assemble"):
                assembled = write(
                    kg.extract_and_assemble(pages.where(en), self.cw, self.mc), "assembled", op_dir
                )
        else:
            with span("plans.kg.extract_text"):
                extracted = write(kg.extract_text(pages), "extracted", op_dir)
            sents = kg.split_sentences(extracted.where(en))
            with span("plans.kg.detect_mentions"):
                mentions = write(
                    kg.detect_mentions(sents, self.cw, broadcast_vocab=False), "mentions", op_dir
                )
            with span("plans.kg.extract_qualifiers"):
                quals = write(kg.extract_qualifiers(sents, self.mc), "qualifiers", op_dir)
            with span("plans.kg.assemble_triples"):
                assembled = write(
                    kg.assemble_triples(mentions, quals, self.kinds), "assembled", op_dir
                )
        with span("plans.kg.link_and_emit"):
            return write(kg.link_and_emit(assembled, self.cw, self.cm), "triples", op_dir)

    def check_triples(self, triples) -> dict:
        """Precision and recall of the committed (subj_id, pred_id, obj_id,
        url) rows against the golden, and no key committed twice."""
        rows = triples.select(*TRIPLE_KEY).toPandas()
        emitted = set(rows.itertuples(index=False, name=None))
        tp = len(emitted & self.golden)
        c = {
            "rows": len(rows),
            "precision": tp / len(emitted) if emitted else 0.0,
            "recall": tp / len(self.golden) if self.golden else 0.0,
            "duplicate_rows": len(rows) - len(emitted),
        }
        c["ok"] = min(c["precision"], c["recall"]) >= MIN_PR and c["duplicate_rows"] == 0
        return c

    def check_extraction(self, extracted) -> dict:
        """The byte-identical text check: every page, none mismatched."""
        from i2o_transform_spark.plans import kg

        rep = kg.validation_report(self.pages, extracted).collect()[0]
        self.extraction_checked = True
        return {
            "extraction_mismatched": rep.n_mismatched,
            "ok": rep.n_mismatched == 0 and rep.n_pages == self.n_pages,
        }

    def run_once(self) -> tuple[float, int, dict]:
        """One timed build; returns (seconds, triples committed, checks)."""
        op_dir = self.work / "op"
        with self.tracer.span("bench.build"):
            t0 = time.perf_counter()
            triples = self.build(self.pages, op_dir)
            wall = time.perf_counter() - t0
        checks = self.check_triples(triples)
        if not self.fused and not self.extraction_checked:
            # builds are deterministic: one check covers every build's text
            ext = self.check_extraction(self.spark.read.parquet(str(op_dir / "extracted")))
            checks.update(ext, ok=checks["ok"] and ext["ok"])
        return wall, checks["rows"], checks


# --- entry point ----------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "i2o_transform_spark" / "__init__.py").is_file():
        print(f"error: no i2o_transform_spark package under {ROOT}", file=sys.stderr)
        return 2

    host = host_profile()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    heap = configure_env(host, work)
    try:
        return run(args, host, work, heap)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run's directory is still there
            pass


def run(args, host: dict, work: Path, heap: str) -> int:
    end_to_end, per_layer = load_metric_units()
    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    walls: list[float] = []
    rates: list[float] = []
    checks: list[dict] = []
    try:
        steal0 = cpu_steal()
        t_setup = time.perf_counter()
        with tracer.span("session.start"):
            spark = start_session(host, work, bool(args.trace))
        tracer.bind(spark)
        with tracer.span("bench.worker_check"):
            check_worker_imports(spark)
        print("# " + json.dumps({
            **host, "heap": heap, "spark": spark.version, "seed": args.seed,
            "workload": args.workload, **WORKLOADS[args.workload],
        }), flush=True)
        bench = Build(spark, work, tracer, args.seed, **WORKLOADS[args.workload])
        bench.setup()
        setup_s = time.perf_counter() - t_setup

        # builds until their timed walls add up to --seconds
        while sum(walls) < args.seconds:
            tracer.op = len(walls) + 1
            wall, n_triples, c = bench.run_once()
            walls.append(wall)
            rates.append(n_triples / wall)
            checks.append(c)
        rss = peak_rss_mb(spark)
    finally:
        if spark is not None:
            stop_session(spark)

    steal1 = cpu_steal()
    failed = sum(not c["ok"] for c in checks)
    print("# " + json.dumps({
        "builds": len(walls), "build_s": walls,
        "setup_s": setup_s, "checks": checks,
        "host_steal_share": (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
    }), flush=True)
    if args.trace:
        tracer.attribute(str(work / "eventlog"))
        units = per_layer
        metrics = tracer.report([n for n in units if not n.startswith("bench.trace.")])
        metrics["bench.trace.triples_per_s"] = statistics.median(rates)
        print("# spans " + json.dumps([(s.name, s.op, round(s.wall, 3)) for s in tracer.spans]),
              flush=True)
    else:
        units = end_to_end
        metrics = {
            "setup_s": setup_s,
            "triples_per_s": statistics.median(rates),
            "triple_precision": statistics.median(c["precision"] for c in checks),
            "triple_recall": statistics.median(c["recall"] for c in checks),
            "success_ratio": (len(checks) - failed) / len(checks),
            "peak_rss_mb": rss,
        }
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(checks),
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
