"""The benchmark's workloads.

Each workload owns one SparkSession at a time and offers:

* ``prepare()``: generate the inputs and expected results (untimed, in a
  child process);
* ``setup()``: start the session, ship the package and run the setup
  operation cold (what ``setup_s`` measures); ``warm()`` follows the
  last setup, untimed;
* ``iteration()``: one timed iteration, returning seconds per operation;
* ``traced_iteration(tracer)``: the same work with a span around every
  call into a layer and a job group around every call that runs jobs,
  returning the iteration's wall time and per-layer numbers;
* ``check()``: the end-of-run correctness checks.

Every operation run (setup and warm-up ones too) counts in
``attempted``; every one that raised or failed a check in ``failed``.
"""

from __future__ import annotations

import dataclasses
import hashlib
import importlib
import json
import os
import subprocess
import sys
import time
import traceback
import zipfile

import numpy as np

import checks
import counters
from spans import Tracer, layer_self_times

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: converter input rows (about 2.8 MB of CSV)
CONVERT_ROWS = 20_000
#: scale factor of the generated query tables (lineitem = 6M x sf rows)
QUERY_SF = 0.005
#: the query mix: construction-heavy keys first, then execution-heavy
QUERY_KEYS = (
    "lpa_copurchase_communities",
    "bpe_train_merges",
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "similarity_topk_exact",
    "zscore_chars_by_lang",  # grouped pandas UDF
    "binary_stats_arrow",  # mapInArrow
)
#: the query_mix setup operation (run cold after each session start)
SETUP_KEY = "q1_pricing_summary"
#: untimed iterations after the last setup: the JIT is still compiling
#: the hot paths through the first few, and their times fall by a third;
#: after two, the first timed convert iteration was still the slowest
WARM_ITERATIONS = 3
#: shuffle partitions pinned for the static shuffle count, so the count
#: does not depend on the core count of the machine
STATIC_SHUFFLE_PARTITIONS = 4
#: driver JVM heap sizing that does not adapt to GC timing: with G1's
#: adaptive young-gen and marking threshold, how much of the heap a run
#: touches, and so peak_rss_mb, varied by a third between runs of the
#: same input; fixed, it varies by about 2%
JVM_OPTIONS = "-Xms2g -Xmn256m -XX:-G1UseAdaptiveIHOP"
CREATED_BY = "perfbench csv2parquet_spark"
#: the two converter modes of the convert workload
CONVERT_MODES = {
    # reference CLI defaults: one output file, full-pass inference,
    # snappy, no created_by
    "convert_parity": {},
    # the 100 TB-path options: multi-part output, sampled inference
    # (about one row in seven, as 65536 rows are of a 100 MB input),
    # splittable parse, zstd, footer patch
    "convert_scale": {"single_file": False, "max_read_records": 4096, "multiline": False,
                      "compression": "zstd", "created_by": CREATED_BY},
}


def spark_cores() -> int:
    """Task slots of the session: half the CPUs this process may use.
    The rest is for what runs beside the tasks: the JVM's JIT compiler
    threads, which keep compiling the code Spark generates for each
    query (half a core or more throughout a run), the py4j handler and
    the Python driver. With one slot per CPU the tasks compete with
    them, and a stage waits on whichever CPU the scheduler gave away.
    On a 4-CPU machine, two slots ran both workloads as fast as four,
    and steadier (perfbench/README.md, "Task slots")."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


class Workload:
    name = ""

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.spark = None
        self.input_bytes = 0
        self.attempted = 0
        self.failed = 0

    def _generate(self, kind: str, out: str, size) -> dict:
        """Generate inputs and their expected results in a child process,
        so neither the generator's nor DuckDB's memory shows in this
        process's peak RSS."""
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), kind, out, str(self.seed), str(size)],
            check=True, stdout=subprocess.DEVNULL,
        )
        with open(checks.expected_path(out)) as f:
            return json.load(f)

    # -- session -------------------------------------------------------
    def start_session(self) -> tuple[float, float]:
        """(Re)start the session and ship the package; returns the seconds
        of each step."""
        from csv2parquet_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        n = spark_cores()
        self.spark = get_spark(
            "perfbench", master=f"local[{n}]", shuffle_partitions=n,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": JVM_OPTIONS,
                **self.session_conf(),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self._ship_package()
        return t1 - t0, time.perf_counter() - t1

    def _ship_package(self) -> None:
        """Zip the package and ``addPyFile`` it, as
        ``__spark_entry__._ship_package`` does, but into the benchmark's
        work directory (that one writes under /tmp): executor Python
        workers resolve module-level helpers of pandas UDFs from it."""
        pkg = os.path.join(ROOT, "csv2parquet_spark")
        sources = sorted(
            os.path.join(d, f) for d, _, fs in os.walk(pkg) for f in fs if f.endswith(".py"))
        sig = hashlib.md5()
        for full in sources:
            st = os.stat(full)
            sig.update(f"{os.path.relpath(full, ROOT)}:{st.st_mtime_ns}:{st.st_size}".encode())
        zpath = os.path.join(self.work, f"pkg_{sig.hexdigest()[:16]}.zip")
        if not os.path.exists(zpath):
            with zipfile.ZipFile(zpath, "w") as z:
                for full in sources:
                    z.write(full, os.path.relpath(full, ROOT))
        self.spark.sparkContext.addPyFile(zpath)

    def setup(self) -> dict[str, float]:
        t0 = time.perf_counter()
        get_spark_s, ship_s = self.start_session()
        self.setup_op()
        return {"setup_s": time.perf_counter() - t0,
                "session.get_spark_s": get_spark_s, "session.ship_package_s": ship_s}

    def stop(self) -> None:
        """Stop the session, then the JVM and the Python workers it
        started, and wait for all of them to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if proc is None:
            return
        spawned = _descendants(proc.pid)
        gw.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        _reap(spawned)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def _fail(self, what: str) -> None:
        self.failed += 1
        print(f"check failed: {what}", file=sys.stderr)

    # -- per workload ---------------------------------------------------
    def warm(self) -> None:
        for _ in range(WARM_ITERATIONS):
            self.iteration()

    def prepare(self) -> None: ...
    def session_conf(self) -> dict[str, str]: return {}
    def setup_op(self) -> None: ...
    def iteration(self) -> dict[str, float]: ...
    def traced_iteration(self, tr: Tracer) -> tuple[float, dict[str, float]]: ...
    def check(self) -> list[str]: return []
    def output_metrics(self) -> dict[str, float]: return {}


# ---------------------------------------------------------------------------
# CSV -> Parquet


class Convert(Workload):
    """Each iteration converts the generated CSV twice: once with the
    reference CLI defaults and once with the 100 TB-path options."""

    name = "convert"

    def prepare(self) -> None:
        from csv2parquet_spark.converter.convert import ConvertOptions

        self.rows = CONVERT_ROWS
        self.csv = os.path.join(self.work, "input.csv")
        self.expected = self._generate("csv", self.csv, self.rows)
        self.input_bytes = os.path.getsize(self.csv)
        self.opts = {m: ConvertOptions(**kw) for m, kw in CONVERT_MODES.items()}
        os.makedirs(os.path.join(self.work, "out"), exist_ok=True)
        #: each mode's latest output
        self.out: dict[str, str] = {}
        self.n_out = 0
        self.schema_path = os.path.join(self.work, "schema.json")

    def session_conf(self) -> dict[str, str]:
        # About one input split per task slot, as a 100 MB CSV gets from
        # the default split sizing: both modes then parse in parallel and
        # convert_scale writes one part per split.
        return {"spark.sql.files.maxPartitionBytes":
                str(-(-self.input_bytes // spark_cores()))}

    def _convert(self, mode: str):
        from csv2parquet_spark.converter.convert import convert

        # A fresh output path per conversion, so no timed conversion
        # deletes an earlier one's files: the outputs go with the work
        # directory when the run ends.
        self.n_out += 1
        single = self.opts[mode].single_file
        self.out[mode] = os.path.join(
            self.work, "out", f"{mode}-{self.n_out}" + (".parquet" if single else ""))
        return convert(self.spark, self.csv, self.out[mode], self.opts[mode])

    def _check_footers(self, mode: str) -> None:
        o = self.opts[mode]
        problems = checks.check_footers(
            self.out[mode], self.rows, (o.compression or "snappy").upper(), o.created_by)
        if problems:
            self._fail(f"{mode}: " + "; ".join(problems[:3]))

    def _timed(self, mode: str) -> float:
        self.attempted += 1
        t0 = time.perf_counter()
        self.schema = self._convert(mode)
        dt = time.perf_counter() - t0
        self._check_footers(mode)
        return dt

    def setup_op(self) -> None:
        self._timed("convert_parity")

    def iteration(self) -> dict[str, float]:
        return {mode: self._timed(mode) for mode in CONVERT_MODES}

    def traced_iteration(self, tr: Tracer) -> tuple[float, dict[str, float]]:
        # the modules, not the package's re-exported functions of the same name
        cm = importlib.import_module("csv2parquet_spark.converter.convert")
        fm = importlib.import_module("csv2parquet_spark.converter.footer")

        sc = self.spark.sparkContext
        groups: dict[str, list[str]] = {"inference": [], "write": []}
        patched = []
        infer0, write0, patch0 = cm.infer_schema, cm.write_parquet, fm.patch_created_by

        def infer(*a, **kw):
            with counters.job_group(sc, "inference") as g:
                groups["inference"].append(g)
                with tr.span("converter.inference"):
                    return infer0(*a, **kw)

        def write(*a, **kw):
            with counters.job_group(sc, "write") as g:
                groups["write"].append(g)
                with tr.span("converter.write"):
                    return write0(*a, **kw)

        def patch(*a, **kw):
            patched.append(a[0])
            with tr.span("converter.footer"):
                return patch0(*a, **kw)

        convs = []
        cm.infer_schema, cm.write_parquet, fm.patch_created_by = infer, write, patch
        try:
            with tr.span("iteration") as root:
                for mode in CONVERT_MODES:
                    self.attempted += 1
                    with tr.span("convert", mode=mode) as s:
                        self._convert(mode)
                    convs.append(s)
        finally:
            cm.infer_schema, cm.write_parquet, fm.patch_created_by = infer0, write0, patch0
        for mode in CONVERT_MODES:
            self._check_footers(mode)
        layers, unattributed = layer_self_times(tr.spans, root)

        # Parse alone: each mode's scan with the schema given, into the
        # noop sink. It runs after the iteration (outside its wall time)
        # and is taken out of write_parquet's self time, per conversion.
        parse_s, parse_groups = 0.0, []
        for mode, conv in zip(CONVERT_MODES, convs):
            probe_s, gid = self._parse_probe(tr, mode)
            parse_groups.append(gid)
            write_self = layer_self_times(tr.spans, conv)[0].get("converter.write", 0.0)
            parse_s += min(probe_s, write_self)
        inf = _sum_groups(sc, groups["inference"])
        wr = _sum_groups(sc, groups["write"], task_times=True)
        pa_ = _sum_groups(sc, parse_groups)
        m = {
            "converter.inference.s": layers.get("converter.inference", 0.0),
            "converter.inference.jobs": inf["jobs"],
            "converter.inference.tasks": inf["tasks"],
            "converter.inference.cpu_s": inf["cpu_s"],
            "converter.parse.s": parse_s,
            "converter.parse.tasks": pa_["tasks"],
            "converter.parse.cpu_s": pa_["cpu_s"],
            "converter.write.s": layers.get("converter.write", 0.0) - parse_s,
            "converter.write.tasks": wr["tasks"],
            "converter.write.cpu_s": max(0.0, wr["cpu_s"] - pa_["cpu_s"]),
            "converter.write.max_task_s": wr["max_task_s"],
            "converter.csv_bytes_read_per_input":
                (inf["input_bytes"] + wr["input_bytes"]) / self.input_bytes,
            "converter.footer.s": layers.get("converter.footer", 0.0),
            "converter.footer.files": len(patched),
            # the iteration's own self time plus convert()'s glue
            "trace.unattributed_s": unattributed + layers.get("convert", 0.0),
        }
        return root.dur, m

    def _parse_probe(self, tr: Tracer, mode: str) -> tuple[float, str]:
        from csv2parquet_spark.converter.convert import read_csv
        from csv2parquet_spark.converter.schema_json import struct_to_arrow_json

        with open(self.schema_path, "w") as f:
            f.write(struct_to_arrow_json(self.schema))
        opts = dataclasses.replace(self.opts[mode], schema_file=self.schema_path)
        with counters.job_group(self.spark.sparkContext, "parse") as gid:
            with tr.span("converter.parse_probe", mode=mode) as s:
                read_csv(self.spark, self.csv, opts).write.format("noop").mode(
                    "overwrite").save()
        return s.dur, gid

    def output_metrics(self) -> dict[str, float]:
        import pyarrow.parquet as pq

        files = [f for m in CONVERT_MODES for f in checks.output_files(self.out[m])]
        size = sum(os.path.getsize(f) for f in files)
        return {
            "converter.output.files": len(files),
            "converter.output.row_groups": sum(pq.ParquetFile(f).metadata.num_row_groups
                                               for f in files),
            "converter.output.bytes": size,
            "converter.output.bytes_per_in": size / (len(CONVERT_MODES) * self.input_bytes),
        }

    def check(self) -> list[str]:
        """Content of the last iteration's outputs against DuckDB's
        checksum of the CSV."""
        return [f"{m}: {p}" for m in CONVERT_MODES
                for p in checks.check_content(self.out[m], self.expected)]


# ---------------------------------------------------------------------------
# Query mix


class QueryMix(Workload):
    """One pass over QUERY_KEYS per iteration: each key's frame is built
    and collected into pandas, and the result is checked against the
    key's DuckDB oracle. The seed sets the tables and the key order of
    every pass."""

    name = "query_mix"

    def prepare(self) -> None:
        from csv2parquet_spark.queries import REGISTRY

        self.data = os.path.join(self.work, "tables")
        self.expected = self._generate("tables", self.data, QUERY_SF)
        self.input_bytes = sum(os.path.getsize(os.path.join(self.data, f))
                               for f in os.listdir(self.data) if f.endswith(".parquet"))
        self.fns = {k: REGISTRY[k].fn for k in QUERY_KEYS}
        self.rng = np.random.default_rng(self.seed)

    def _order(self) -> list[str]:
        return [QUERY_KEYS[i] for i in self.rng.permutation(len(QUERY_KEYS))]

    def _verify(self, key: str, pdf) -> None:
        if checks.frame_digest(pdf) != self.expected[key]:
            self._fail(f"{key}: result digest differs from its DuckDB oracle")

    def _run(self, key: str) -> float | None:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            pdf = self.fns[key](self.spark, self.data).toPandas()
        except Exception:  # counted, reported, and the pass goes on
            self._fail(f"{key}:\n{traceback.format_exc()}")
            return None
        dt = time.perf_counter() - t0
        self._verify(key, pdf)
        return dt

    def setup_op(self) -> None:
        self._run(SETUP_KEY)

    def iteration(self) -> dict[str, float]:
        times = {}
        for k in self._order():
            dt = self._run(k)
            if dt is not None:
                times[k] = dt
        return times

    def traced_iteration(self, tr: Tracer) -> tuple[float, dict[str, float]]:
        sc = self.spark.sparkContext
        gids: list[tuple[str, str]] = []
        frames = []
        unpatch = _patch_table(tr)
        try:
            with tr.span("pass") as root:
                for k in self._order():
                    self.attempted += 1
                    with counters.job_group(sc, "construct") as g1:
                        with tr.span("queries.construct", key=k):
                            df = self.fns[k](self.spark, self.data)
                    with counters.job_group(sc, "execute") as g2:
                        with tr.span("queries.execute", key=k):
                            pdf = df.toPandas()
                    gids.append((g1, g2))
                    frames.append((k, df, pdf))
        finally:
            unpatch()
        layers, unattributed = layer_self_times(tr.spans, root)
        con = _sum_groups(sc, [g for g, _ in gids])
        ex = _sum_groups(sc, [g for _, g in gids])
        m = {
            "tables.resolve_s": layers.get("tables.resolve", 0.0),
            "queries.construct.s": layers.get("queries.construct", 0.0),
            "queries.execute.s": layers.get("queries.execute", 0.0),
            "trace.unattributed_s": unattributed,
            "python.total_s": 0.0, "python.boot_s": 0.0,
            "python.bytes_sent": 0.0, "python.bytes_received": 0.0,
        }
        for prefix, c in (("queries.construct.", con), ("queries.execute.", ex)):
            for f in ("jobs", "tasks", "cpu_s", "shuffle_write_bytes",
                      "shuffle_write_records", "spill_bytes"):
                m[prefix + f] = c[f]
        for k, df, pdf in frames:
            self._verify(k, pdf)
            for name, v in python_metrics(df).items():
                m["python." + name] += v
        return root.dur, m

    def output_metrics(self) -> dict[str, float]:
        """Static (AQE off) shuffle bytes of every key's returned plan."""
        from csv2parquet_spark.planmetrics import executed_shuffle_metrics

        total = 0
        for k in QUERY_KEYS:
            df = self.fns[k](self.spark, self.data)
            total += executed_shuffle_metrics(df, STATIC_SHUFFLE_PARTITIONS)["bytes"]
        return {"shuffle.static_bytes": total}


WORKLOADS = {w.name: w for w in (Convert, QueryMix)}


# ---------------------------------------------------------------------------
# helpers


def _sum_groups(sc, gids: list[str], task_times: bool = False) -> dict[str, float]:
    out = dict.fromkeys(counters.FIELDS, 0.0)
    for g in gids:
        out = counters.add(out, counters.read_group(sc, g, task_times))
    return out


_PY_METRICS = {"pythonTotalTime": "total_s", "pythonBootTime": "boot_s",
               "pythonDataSent": "bytes_sent", "pythonDataReceived": "bytes_received"}


def python_metrics(df) -> dict[str, float]:
    """Sum the Python-worker metrics over every node of ``df``'s executed
    plan (after it ran); timings in seconds."""
    out: dict[str, float] = {}

    def walk(node) -> None:
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            name = _PY_METRICS.get(kv._1())
            if name:
                metric = kv._2()
                v = float(metric.value())
                kind = metric.metricType()
                if kind == "nsTiming":
                    v /= 1e9
                elif kind == "timing":
                    v /= 1e3
                out[name] = out.get(name, 0.0) + v
        for i in range(node.children().size()):
            walk(node.children().apply(i))
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
        elif "QueryStage" in cls:
            walk(node.plan())

    walk(df._jdf.queryExecution().executedPlan())
    return out


def _patch_table(tr: Tracer):
    """Route every module-level reference to ``tables.table`` in the
    package through a span; returns the undo function."""
    from csv2parquet_spark import tables

    orig = tables.table

    def table(*a, **kw):
        with tr.span("tables.resolve"):
            return orig(*a, **kw)

    mods = [m for n, m in list(sys.modules.items())
            if n.startswith("csv2parquet_spark") and getattr(m, "table", None) is orig]
    for m in mods:
        m.table = table

    def undo() -> None:
        for m in mods:
            m.table = orig

    return undo


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as f:
                kids = [int(x) for x in f.read().split()]
        except OSError:
            kids = []
        out.extend(kids)
        todo.extend(kids)
    return out


def _reap(pids: list[int], timeout: float = 30.0) -> None:
    """Wait for processes that are not our children to exit; kill any
    still alive after ``timeout``."""
    import signal

    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive and time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0
