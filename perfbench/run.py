"""Extraction benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload extract_mix --seed 1 --seconds 6 --trace 0

Run from the repository root. Workloads (closed loop: one Python process,
one Spark job at a time, ``local[nproc]``):

* ``extract_mix``    ``operators.extract.extract`` into a parquet sink over
                     the fixture's full family mix (cards, simple, guards,
                     tiny, 1-2 MB oversized pages);
* ``extract_resume`` ``lineage.run_extract_job`` over the small families only
                     (simple, tiny, empty/invalid guards): 8 commit groups,
                     an injected failure after group 3, then a resume with
                     the same run id;
* ``curate``         four ``__spark_entry__.queries()`` keys, one per operator
                     module, over a seeded table into the ``noop`` sink.

Each run starts a fresh JVM and sets up once: session start plus an
untimed warm-up pass. It then repeats the workload's pass until the passes
add up to ``--seconds``. Every extract pass's output is checked per url
against the single-threaded golden extractor; the curate keys' rows, which
the warm-up pass collects, are checked against their DuckDB oracles. Any
mismatch makes the run exit 1.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` makes one
traced pass and reports the per-layer metrics (``perfbench/README.md``).
Metric names and units are those of ``BENCHMARK.json``. The last stdout
line is the result object; progress goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = pathlib.Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
sys.path.insert(0, str(ROOT))

DRIVER_MEM = "4g"
#: Lineage pass: the program's default bucket count, 8 commit groups, an
#: injected failure after group 3; the resume drops ``fail_after_group``.
PASS_SHAPE = {"n_groups": 8, "fail_after_group": 3}
#: The warm-up pass fails and resumes the same way in a smaller shape: it
#: loads the same code paths and commits fewer partitions. On a 4-core VM
#: this took about 12 s off the set-up, and the first timed pass after it
#: was about 1 s slower than after a warm-up of 8 buckets in 8 groups.
WARM_UP_SHAPE = {"n_buckets": 8, "n_groups": 2, "fail_after_group": 1}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def preflight() -> dict:
    """The benchmark's own spec; exits when not run from a checkout."""
    missing = [
        p
        for p in (
            "BENCHMARK.json",
            "cpp_paddle_ocr_spark/__init__.py",
            "__spark_entry__.py",
            "tests/golden/CHECKSUMS.tsv",
        )
        if not (ROOT / p).is_file()
    ]
    if missing:
        sys.exit(f"perfbench: run from a checkout of the repository; missing {missing}")
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def configure_env() -> int:
    """Point Spark, the JVM and Python's temp files into the work dir and
    size the session to the cores this process may use."""
    cpus = len(os.sched_getaffinity(0))
    tmp, local = WORK / "tmp", WORK / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        # local Python workers import the engine from the checkout
        PYTHONPATH=os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(local),
        # no hsperfdata files in the host's /tmp, from either JVM
        SPARK_SUBMIT_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    tempfile.tempdir = None
    return cpus


# --- processes -------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for p in pathlib.Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            stat = (p / "stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(p.name))
    return kids


def descendants() -> list[int]:
    kids, out, todo = _children(), [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> tuple[float, list[float]]:
    """``VmHWM`` of this run's JVM and of each Spark Python worker process
    alive now, in MB."""
    jvm, workers = 0.0, []
    for pid in descendants():
        try:
            cmd = pathlib.Path(f"/proc/{pid}/cmdline").read_bytes()
            status = pathlib.Path(f"/proc/{pid}/status").read_text()
        except OSError:
            continue
        hwm = next(
            (int(x.split()[1]) / 1024.0 for x in status.splitlines() if x.startswith("VmHWM:")),
            0.0,
        )
        if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            workers.append(hwm)
        elif b"org.apache.spark.deploy.SparkSubmit" in cmd:
            jvm = max(jvm, hwm)
    return jvm, workers


class Session:
    """One Spark session in one JVM for the whole run."""

    def __init__(self) -> None:
        self.spark = None

    def start(self):
        from cpp_paddle_ocr_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.driver.host": "127.0.0.1",
                "spark.driver.bindAddress": "127.0.0.1",
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        """Stop the session and the JVM, and wait for every process this
        run started to end."""
        from pyspark import SparkContext

        pids = descendants()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 30
        alive = pids
        while alive and time.monotonic() < deadline:
            time.sleep(0.1)
            alive = [p for p in alive if pathlib.Path(f"/proc/{p}").exists()]
        for p in alive:
            try:
                os.kill(p, 9)
            except OSError:
                pass


# --- workloads ---------------------------------------------------------------


class Extract:
    """``extract()`` into parquet, or the lineage job plus its resume, over
    seeded fixture pages; every output is checked per url."""

    check_every_pass = True

    def __init__(self, name: str, seed: int, n_ids: int, small_only: bool, resume: bool) -> None:
        self.name, self.seed, self.resume = name, seed, resume
        self.n_ids, self.small_only = n_ids, small_only
        self.out = WORK / "out" / name
        self.n_passes = 0

    def prepare(self) -> None:
        from perfbench import inputs as inp

        window = inp.window_for(self.seed, self.n_ids, self.small_only)
        self.inputs = inp.ensure_inputs(WORK, ROOT, window)
        self.n_docs = self.inputs.n_pages
        log(f"inputs {self.inputs.path.name}: {self.n_docs} pages")

    def _lineage_job(self, spark, out: pathlib.Path, run_id: str, **kwargs) -> None:
        from cpp_paddle_ocr_spark.lineage import run_extract_job

        docs = spark.read.parquet(str(self.inputs.path))
        run_extract_job(spark, docs, str(out), run_id=run_id, **kwargs)

    def timed(self, spark, metrics=None, shape=PASS_SHAPE) -> tuple[float, ...]:
        """One pass: ``(wall,)`` from the scan call to a committed sink, or
        ``(attempt1_s, resume_s)`` for the failing job of ``shape`` and its
        resume."""
        from cpp_paddle_ocr_spark.lineage import SimulatedFailure
        from cpp_paddle_ocr_spark.operators.extract import extract

        self.n_passes += 1
        if not self.resume:
            t0 = time.perf_counter()
            docs = spark.read.parquet(str(self.inputs.path))
            extract(docs).write.mode("overwrite").parquet(str(self.out))
            return (time.perf_counter() - t0,)
        shutil.rmtree(self.out, ignore_errors=True)
        run_id = f"s{self.seed}p{self.n_passes}"
        resume = {k: v for k, v in shape.items() if k != "fail_after_group"}
        t0 = time.perf_counter()
        try:
            self._lineage_job(spark, self.out, run_id, metrics=metrics, **shape)
            raise RuntimeError("the injected failure did not fire")
        except SimulatedFailure:
            pass
        t1 = time.perf_counter()
        self._lineage_job(spark, self.out, run_id, metrics=metrics, **resume)
        return t1 - t0, time.perf_counter() - t1

    def warm_up(self, spark) -> None:
        if self.resume:
            self.timed(spark, shape=WARM_UP_SHAPE)
        else:
            self.timed(spark)

    def check(self, spark) -> tuple[int, int, list[str]]:
        """Per-url check of the sink against the golden digests; after a
        resume, ``read_extracted`` must hold exactly one row per url."""
        from cpp_paddle_ocr_spark.lineage import read_extracted

        from perfbench import gate

        out = str(self.out)
        df = read_extracted(spark, out) if self.resume else spark.read.parquet(out)
        return gate.check_rows(gate.sink_rows(df), self.inputs.golden)

    def traced(self, spark, cpus: int, base_docs_per_s: float) -> dict:
        """One traced pass (Spark's records) plus the single-threaded core
        trace over the same pages."""
        from cpp_paddle_ocr_spark.operators.extract import make_metrics
        from cpp_paddle_ocr_spark.session import ARROW_BATCH_ROWS

        from perfbench import coretrace, inputs as inp, sparkrec

        n = self.n_docs
        rec = sparkrec.SparkRecords(spark.sparkContext)
        mark = rec.mark()
        acc = make_metrics(spark)
        split = self.timed(spark, metrics=acc if self.resume else None)
        records = rec.since(mark)
        m = sparkrec.reduce_records(records)
        extracted_per_page = 1.0
        if self.resume:
            extracted_per_page = acc["n_pages"].value / n
            m.update(sparkrec.reduce_lineage(records))
            m.update(
                {
                    "lineage.attempt1_s": split[0],
                    "lineage.resume_s": split[1],
                    "lineage.pages_extracted_per_page": extracted_per_page,
                    "lineage.stored_mb": sum(
                        f.stat().st_size for f in self.out.rglob("*") if f.is_file()
                    ) / sparkrec.MB,
                }
            )

        pages = inp.load_pages(self.inputs.window)
        urls, htmls = [p["url"] for p in pages], [p["html"] for p in pages]
        # untraced and traced core passes alternate; the fastest of each counts
        coretrace.run_batches(urls[:ARROW_BATCH_ROWS], htmls[:ARROW_BATCH_ROWS], ARROW_BATCH_ROWS)
        kernel_s = core_wall = float("inf")
        for _ in range(3):
            kernel_s = min(kernel_s, coretrace.run_batches(urls, htmls, ARROW_BATCH_ROWS))
            t = coretrace.CoreTrace()
            with t.installed():
                wall = coretrace.run_batches(urls, htmls, ARROW_BATCH_ROWS, t)
            if wall < core_wall:
                trace, core_wall = t, wall
        selfs = trace.self_times()
        c = trace.counts
        kernel_rate = n / kernel_s
        docs_per_s = n / sum(split)
        m.update(
            {
                "kernel.docs_per_s_1t": kernel_rate,
                **{f"{k}.s": selfs.get(k, 0.0) for k in coretrace.WRAPPED},
                "parse.blocks": float(c["parse.blocks"]),
                "det.spans": float(c["det.spans"]),
                "det.early_exit_pages": float(c["det.early_exit_pages"]),
                "cls.kept_share": c["cls.kept"] / max(1, c["cls.spans_in"]),
                "rec.spans": float(c["rec.spans"]),
                "rec.chars": float(c["rec.chars"]),
                "boundary.overhead_s": m["boundary.python_s"] - kernel_s * extracted_per_page,
                "spark.parallel_eff": docs_per_s / (cpus * kernel_rate),
                "trace.docs_per_s_ratio": docs_per_s / base_docs_per_s,
                "trace.core_wall_ratio": core_wall / kernel_s,
                # the spans' self times against the measured wall of the
                # traced call: time no span covers lowers the share
                "core.self_sum_share": sum(selfs.values()) / core_wall,
                "input.files": float(len(self.inputs.layout["files"])),
                "input.mb": self.inputs.layout["html_bytes"] / sparkrec.MB,
            }
        )
        self.trace_doc = {
            "core_spans": ["name start end parent batch".split()] + trace.spans,
            "spark": {k: records[k] for k in ("jobs", "stages", "task_s")},
        }
        return m


class Curate:
    """The curate key list over a seeded table. The warm-up pass collects
    each key's rows, and those are checked against the oracles."""

    check_every_pass = False

    def __init__(self, name: str, seed: int) -> None:
        self.name, self.seed = name, seed

    def prepare(self) -> None:
        from perfbench import curate, inputs as inp

        self.tables = inp.ensure_tables(WORK, ROOT, self.seed)
        self.n_docs = curate.n_rows(self.tables)
        self.want = curate.oracle_frames(self.tables)
        log(f"tables {self.tables.name}: {self.n_docs} input rows per pass")

    def timed(self, spark) -> tuple[float]:
        from perfbench import curate

        return (curate.run_pass(spark, self.tables),)

    def warm_up(self, spark) -> None:
        from perfbench import curate

        self.got = curate.collect(spark, self.tables)

    def check(self, spark) -> tuple[int, int, list[str]]:
        from perfbench import curate

        return curate.check(self.got, self.want)

    def traced(self, spark, cpus: int, base_docs_per_s: float) -> dict:
        """One traced pass; Spark's records are split per key."""
        from perfbench import curate, sparkrec

        rec = sparkrec.SparkRecords(spark.sparkContext)
        spans, per_key, last = [], {}, [rec.mark()]

        def on_key(key, t0, t1):
            spans.append((key, t0, t1, None, 0))
            per_key[key] = (t1 - t0, rec.since(last[0]))
            last[0] = rec.mark()

        curate.run_pass(spark, self.tables, on_key)
        records = {
            k: sum((r[k] for _, r in per_key.values()), [])
            for k in ("execs", "jobs", "stages", "task_s")
        }
        m = sparkrec.reduce_records(records)
        for key, (secs, r) in per_key.items():
            m.update(sparkrec.reduce_leaf(key, secs, r))
        # Spark's records are read between keys: only the keys' walls count
        traced_wall = sum(secs for secs, _ in per_key.values())
        m["trace.docs_per_s_ratio"] = self.n_docs / traced_wall / base_docs_per_s
        m["input.files"] = float(len(list(self.tables.glob("*.parquet"))))
        m["input.mb"] = sum(
            f.stat().st_size for f in self.tables.glob("*.parquet")
        ) / sparkrec.MB
        self.trace_doc = {
            "key_spans": ["name start end parent batch".split()] + spans,
            "spark": {k: records[k] for k in ("jobs", "stages", "task_s")},
        }
        return m


def make_workload(name: str, seed: int):
    if name == "extract_mix":
        return Extract(name, seed, 400, small_only=False, resume=False)
    if name == "extract_resume":
        return Extract(name, seed, 2000, small_only=True, resume=True)
    return Curate(name, seed)


WORKLOADS = ("extract_mix", "extract_resume", "curate")

#: per-layer metric prefixes a workload does not touch; they read 0 there
UNTOUCHED = {
    "extract_mix": ("lineage.", "leaf."),
    "extract_resume": ("leaf.",),
    "curate": (
        "kernel.", "decode.", "parse.", "det.", "cls.", "rec.", "assemble.",
        "core.", "boundary.", "spark.parallel_eff", "trace.core_wall_ratio",
        "lineage.",
    ),
}


# --- run -------------------------------------------------------------------


def run(spec: dict, name: str, seed: int, seconds: float, traced: bool) -> int:
    from perfbench import gate

    cpus = configure_env()
    tally = gate.Tally()
    wl = make_workload(name, seed)
    wl.prepare()
    tally.add(*gate.check_committed_golden(ROOT, WORK))
    session = Session()
    metrics: dict[str, float] = {}
    try:
        t = time.perf_counter()
        spark = session.start()
        wl.warm_up(spark)  # loads every code path a pass uses
        setup_s = time.perf_counter() - t
        log(f"setup: {setup_s:.3f} s")
        tally.add(*wl.check(spark))
        walls: list[float] = []
        while sum(walls) < seconds:
            walls.append(sum(wl.timed(spark)))
            log(f"{name} pass {len(walls)}: {walls[-1]:.3f} s")
            if wl.check_every_pass:
                tally.add(*wl.check(spark))
        docs_per_s = wl.n_docs / statistics.median(walls)
        if traced:
            metrics = {
                k["name"]: 0.0
                for k in spec["per_layer"]
                if k["name"].startswith(UNTOUCHED[name])
            }
            metrics.update(wl.traced(spark, cpus, docs_per_s))
            if wl.check_every_pass:
                tally.add(*wl.check(spark))
        jvm_mb, worker_mb = peak_rss_mb()
        metrics["rss_mb"] = jvm_mb + sum(worker_mb)
        metrics["boundary.worker_rss_mb"] = max(worker_mb, default=0.0)
        metrics.update(docs_per_s=docs_per_s, setup_s=setup_s)
    except Exception:
        tally.add(wl.n_docs, wl.n_docs, [traceback.format_exc()])
    finally:
        session.close()
    if traced:
        metrics["gate.failed_share"] = tally.failed / max(1, tally.attempted)
        trace_dir = WORK / "trace"
        trace_dir.mkdir(parents=True, exist_ok=True)
        doc = {**getattr(wl, "trace_doc", {}), "metrics": metrics}
        (trace_dir / f"{name}_seed{seed}.json").write_text(json.dumps(doc))
    for p in tally.problems:
        log(f"FAILED {p}")
    wanted = spec["per_layer" if traced else "end_to_end"]
    correct = tally.failed == 0 and all(m["name"] in metrics for m in wanted)
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": {
                    m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in wanted
                    if m["name"] in metrics
                },
            }
        )
    )
    return 0 if correct else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = preflight()
    return run(spec, args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
