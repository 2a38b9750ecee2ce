"""One benchmark run in a fresh process: set up, measure, check, tear down.

Started by run.py with the run's environment already in place (CPU count,
driver heap, PYTHONPATH, private TMPDIR and SPARK_LOCAL_DIRS). Prints the
result object as the last line of standard output.

    python3 perfbench/worker.py WORKLOAD SEED SECONDS TRACE WORKDIR OUTDIR
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from spans import Tracer  # noqa: E402

#: warm setups per run, after the cold one; setup_s is their median
SETUP_REPS = 3
#: mover-drain: files per backlog round. It is also the file source's batch
#: size, so a round is one batch, and the size of the untimed warm-up round
MOVER_FILES_PER_ROUND = 16
#: cdc-paced: open-loop file drop rate (files/s)
CDC_FILES_PER_S = 20.0
#: monitoring client think time between REST calls (s)
MONITOR_THINK_S = 0.02
#: analytics-mix corpus scale, in TPC-H scale-factor units
ANALYTICS_SF = 0.02
ANALYTICS_QUERIES = (
    "q5_local_supplier_volume",
    "cdc_apply_upserts",
    "dedup_minhash_lsh",
    "text_tfidf_top_terms",
    "ann_ivf_topk_persisted",
    "events_markov_stationary",
)
MOVER_SAMPLE_DECODES = 64
#: CPU-speed probe time (monitor.py) on the reference host, a 4-vCPU VM;
#: the normalized end-to-end timings are scaled to it
REF_CPU_PROBE_S = 0.0015


def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..1); 0.0 for no samples."""
    if not values:
        return 0.0
    s = sorted(values)
    return float(s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))])


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def tree_digest() -> str:
    """Digest of the program's and the benchmark's Python sources, so a
    traced run is compared only with an untraced run of the same code."""
    h = hashlib.sha256()
    for top in ("brooklin_spark", "perfbench"):
        for dp, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for fn in sorted(files):
                if fn.endswith(".py"):
                    path = os.path.join(dp, fn)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def dir_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    n = b = 0
    for dp, _dirs, files in os.walk(path):
        if "_spark_metadata" in dp:
            continue
        for fn in files:
            if fn.endswith(suffix) and not fn.startswith("."):
                n += 1
                b += os.path.getsize(os.path.join(dp, fn))
    return n, b


class Monitor:
    """The monitoring client and CPU-speed sampler (perfbench/monitor.py) in
    its own process, so its Python work does not share the driver's
    interpreter. It starts before the cold setup and samples CPU speed
    through it; released at the start of the timed window, it makes its
    REST calls and samples after each."""

    def __init__(self, workdir: str):
        self.ready_file, self.start_file, self.stop_file = (
            os.path.join(workdir, f"monitor.{x}") for x in ("ready", "start", "stop")
        )
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "monitor.py"), str(MONITOR_THINK_S),
             self.ready_file, self.start_file, self.stop_file],
            stdout=subprocess.PIPE, text=True,
        )
        deadline = time.time() + 60
        while not os.path.exists(self.ready_file):
            if self.proc.poll() is not None or time.time() > deadline:
                raise RuntimeError("monitoring client did not start")
            time.sleep(0.01)

    def release(self, base_url: str) -> None:
        tmp = self.start_file + ".tmp"
        with open(tmp, "w") as f:
            f.write(base_url)
        os.rename(tmp, self.start_file)

    def finish(self, from_wall: float) -> None:
        """Stop the client; keep the calls that started at or after
        ``from_wall`` (the start of the timed window)."""
        open(self.stop_file, "w").close()
        out, _ = self.proc.communicate(timeout=120)
        d = json.loads(out.strip().splitlines()[-1])
        self.spans = [s for s in d["spans"] if s[1] >= from_wall]
        self.probes = d["probes"]
        self.errors = sum(1 for s in self.spans if not s[3])
        self.calls = {
            kind: [(t1 - t0) * 1e3 for k, t0, t1, _ok in self.spans if k == kind]
            for kind in ("health", "metrics")
        }

    def probe_s(self, w0: float, w1: float) -> float:
        """Median CPU-speed sample taken in the wall-clock interval."""
        return median([p for t, p in self.probes if w0 <= t <= w1])

    def all_ms(self) -> list[float]:
        return self.calls["health"] + self.calls["metrics"]


class Run:
    def __init__(self, workload, seed, seconds, trace, workdir):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tr = Tracer(trace)
        self.workdir = workdir
        self.metrics: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}
        self.fail_notes: list[str] = []
        self.spark = None
        self.manager = None
        self.rest = None
        self.monitor = None
        self.pipelines: list[str] = []

    # ----------------------------------------------------------- failures
    def check(self, cls: str, attempted: int, failed: int, what: str) -> None:
        """Count ``attempted`` operations of check class ``cls``, ``failed``
        of them wrong. One wrong operation fails its whole class."""
        failed = min(attempted, failed)
        self.attempted += attempted
        self.failed += failed
        self.checks[cls] = self.checks.get(cls, True) and failed == 0
        if failed:
            self.fail_notes.append(f"{what} ({failed} of {attempted})")

    def check_one(self, cls: str, ok: bool, what: str) -> None:
        self.check(cls, 1, 0 if ok else 1, what)

    # -------------------------------------------------------------- setup
    def setup_once(self, rep: int) -> float:
        """One setup. In rep 0 it is cold: the program's first imports, the
        JVM launch, the first import of every query module and the first
        streaming query start all fall in it."""
        repdir = os.path.join(self.workdir, f"rep{rep}")
        os.makedirs(os.path.join(repdir, "tmp"), exist_ok=True)
        # a fresh temp dir per setup: nothing an earlier setup cached there
        # (the persisted ANN index caches under it) is reused
        tempfile.tempdir = os.path.join(repdir, "tmp")
        t0 = time.perf_counter()
        from brooklin_spark import registry
        from brooklin_spark.manager import PipelineManager
        from brooklin_spark.rest import DatastreamRestServer
        from brooklin_spark.session import get_spark

        with self.tr.span("get_spark", "session"):
            self.spark = get_spark(app_name=f"perfbench-{self.workload}")
        t1 = time.perf_counter()
        with self.tr.span("load_all", "registry"):
            registry.load_all()
        t2 = time.perf_counter()
        with self.tr.span("PipelineManager.create", "manager"):
            self.manager = PipelineManager(self.spark, os.path.join(repdir, "mgr"))
            self.pipelines = []
            if self.workload == "mover-drain":
                self._create_pipeline(self._mover_spec(repdir))
            elif self.workload == "cdc-paced":
                self._create_pipeline(self._cdc_spec(repdir))
        t3 = time.perf_counter()
        with self.tr.span("rest.start", "rest"):
            self.rest = DatastreamRestServer(self.manager).start()
        t4 = time.perf_counter()
        self.layer.setdefault("session.get_spark_s", []).append(t1 - t0)
        self.layer.setdefault("registry.load_all_s", []).append(t2 - t1)
        self.layer.setdefault("manager.create_ms", []).append((t3 - t2) * 1e3)
        return t4 - t0

    def _create_pipeline(self, spec):
        self.manager.create(spec)
        self.pipelines.append(spec.name)

    def _mover_spec(self, repdir):
        from brooklin_spark.model import PipelineSpec

        self.src = os.path.join(repdir, "mover_src")
        self.dest = os.path.join(repdir, "mover_out")
        os.makedirs(self.src, exist_ok=True)
        return PipelineSpec(
            name="mover",
            connector="file",
            transport="parquet",
            source_uri=f"file://{self.src}",
            dest_uri=f"parquet://{self.dest}",
            envelope_serde="avro",
            metadata={"max.files.per.trigger": str(MOVER_FILES_PER_ROUND)},
        )

    def _cdc_spec(self, repdir):
        from brooklin_spark.model import PipelineSpec

        self.src = os.path.join(repdir, "cdc_src")
        self.dest = os.path.join(repdir, "cdc_state")
        os.makedirs(self.src, exist_ok=True)
        return PipelineSpec(
            name="cdc",
            connector="file",
            transport="materialize",
            source_uri=f"file://{self.src}",
            dest_uri=f"parquet://{self.dest}",
            metadata={
                "system.deadletter.predicate": f"length(value) <= {gen.CDC_MAX_LINE_BYTES}",
                "max.files.per.trigger": "100000",
            },
        )

    def teardown(self) -> None:
        """Stop the REST server and every query, remove the metrics
        listener, then stop the session."""
        if self.rest is not None:
            self.rest.stop()
            self.rest = None
        if self.manager is not None:
            for name in self.pipelines:
                q = self.manager.query_of(name)
                if q is not None and q.isActive:
                    q.stop()
            self.spark.streams.removeListener(self.manager.metrics)
            self.manager = None
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -------------------------------------------------------------- helpers
    def start_window(self, lead: float = 0.0) -> float:
        """Start the timed region ``lead`` seconds from now: release the
        monitoring client and read the GC baseline. Returns the start."""
        if self.monitor is not None:
            self.monitor.release(self.rest.address)
        self.gc0 = self.jvm_gc_ms()
        self.timed_from = time.perf_counter() + lead
        return self.timed_from

    def jvm_gc_ms(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()  # noqa: SLF001
        return float(sum(max(0, b.getCollectionTime()) for b in beans))

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())  # noqa: SLF001

    def wait_progress(self, name: str, timeout: float = 30.0) -> list[dict]:
        """The MetricsStore is fed asynchronously: wait until its last batch
        is the query's last progress before reading phase splits."""
        q = self.manager.query_of(name)
        last = q.lastProgress["batchId"] if q.lastProgress else None
        deadline = time.time() + timeout
        while True:
            recent = self.manager.metrics.recent(name)
            got = recent[-1]["batchId"] if recent else None
            if got == last or time.time() > deadline:
                return recent
            time.sleep(0.02)

    def commit_times(self, name: str) -> dict[str, float]:
        """Input file (basename) -> wall time of the commit of the batch
        that first listed it, read from the checkpoint's source and commit
        logs."""
        ck = os.path.join(self.manager.checkpoint_root, name)
        sdir = os.path.join(ck, "sources", "0")
        batches = {}
        for fn in os.listdir(sdir):
            base = fn.removesuffix(".compact")
            if base.isdigit():
                batches[int(base)] = os.path.join(sdir, fn)
        out: dict[str, float] = {}
        for b in sorted(batches):
            cpath = os.path.join(ck, "commits", str(b))
            if not os.path.exists(cpath):
                continue
            mtime = os.stat(cpath).st_mtime
            with open(batches[b]) as f:
                for line in f.read().splitlines()[1:]:
                    if line.startswith("{"):
                        p = os.path.basename(json.loads(line)["path"])
                        out.setdefault(p, mtime)
        return out

    def phase_layers(self, recent: list[dict], rows_delivered: int, busy_s: float) -> None:
        phases = {
            "sources.latestOffset_ms": "latestOffset",
            "sources.getBatch_ms": "getBatch",
            "manager.queryPlanning_ms": "queryPlanning",
            "checkpoint.walCommit_ms": "walCommit",
            "checkpoint.commitOffsets_ms": "commitOffsets",
            "manager.addBatch_ms": "addBatch",
        }
        data = [b for b in recent if b["numInputRows"]]
        for key, ph in phases.items():
            v = [b["durationMs"].get(ph, 0) for b in data]
            self.metrics_layer(key + "_p50", median(v))
            self.metrics_layer(key + "_p95", pct(v, 0.95))
        trig = sum(b["durationMs"].get("triggerExecution", 0) for b in recent)
        self.metrics_layer("manager.idle_ms", max(0.0, busy_s * 1e3 - trig))
        self.metrics_layer("manager.batches", len(data))
        self.metrics_layer("manager.rows_per_batch", rows_delivered / max(1, len(data)))
        reads = sum(b["numInputRows"] or 0 for b in recent)
        self.metrics_layer("manager.source_reads_per_row", reads / max(1, rows_delivered))

    def metrics_layer(self, key: str, value: float) -> None:
        self.layer[key] = float(value)

    def synth_stream_spans(self, name: str, clock_offset: float) -> None:
        """Turn each batch's progress into spans on a 'stream' thread so
        the stream thread's time splits by phase."""
        from datetime import datetime

        if not self.tr.enabled:
            return
        recent = self.manager.query_of(name).recentProgress
        order = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"]
        layer = {
            "latestOffset": "sources", "getBatch": "sources", "queryPlanning": "manager",
            "addBatch": "sinks", "walCommit": "checkpoint", "commitOffsets": "checkpoint",
        }
        for b in recent:
            ts = b.get("timestamp")
            if ts is None:
                continue
            start = datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() - clock_offset
            d = b["durationMs"]
            end = start + d.get("triggerExecution", 0) / 1e3
            bid = self.tr.add("trigger", "manager", "stream", start, end)
            t = start
            for ph in order:
                dur = d.get(ph, 0) / 1e3
                if dur <= 0:
                    continue
                self.tr.add(ph, layer[ph], "stream", t, min(t + dur, end), parent=bid)
                t += dur
        # foreachBatch wrapper spans ran on py4j callback threads: hang
        # them under the addBatch span that contains them
        adds = [s for s in self.tr.spans if s["name"] == "addBatch"]
        for s in self.tr.spans:
            if s["name"] in ("manager.write_batch",) and s["parent"] is None:
                mid = (s["start"] + s["end"]) / 2
                for a in adds:
                    if a["start"] - 0.05 <= mid <= a["end"] + 0.05:
                        s["parent"] = a["id"]
                        break
            if s["thread"] != "MainThread" and s["name"] in (
                "manager.write_batch", "materialize.merge_batch"
            ):
                s["thread"] = "stream"

    # ---------------------------------------------------------- mover-drain
    def measure_mover(self, rounds_max: int | None = None) -> None:
        staging = os.path.join(self.workdir, "staging")
        os.makedirs(staging, exist_ok=True)
        self.generated: dict[str, list[str]] = {}

        def drain_round(rnd: int, n_files: int, prefix: str) -> tuple[float, dict]:
            staged = []
            for i, lines in enumerate(gen.mover_round(self.seed, rnd, n_files)):
                name = f"{prefix}{rnd:03d}_f{i:04d}.jsonl"
                staged.append(gen.write_staged(staging, name, lines))
                self.generated[name] = lines
            t0 = time.perf_counter()
            wall = time.time()
            for p in staged:
                os.rename(p, os.path.join(self.src, os.path.basename(p)))
            with self.tr.span("process_available", "wait"):
                self.manager.process_available("mover")
            return time.perf_counter() - t0, {os.path.basename(p): wall for p in staged}

        # untimed: the first batch starts the Python workers of the serde UDF
        drain_round(999, MOVER_FILES_PER_ROUND, "w")
        self.start_window()
        rates, drops = [], {}
        busy, rnd = 0.0, 0
        while rnd < 2 or busy < self.seconds:
            if rounds_max is not None and rnd >= rounds_max:
                break
            dt, dropped = drain_round(rnd, MOVER_FILES_PER_ROUND, "r")
            drops.update(dropped)
            busy += dt
            rates.append(MOVER_FILES_PER_ROUND * gen.MOVER_LINES_PER_FILE / dt)
            log(f"mover round {rnd}: {dt:.2f}s {rates[-1]:.0f} rows/s")
            rnd += 1
        commits = self.commit_times("mover")
        lat = [(commits[f] - t) * 1e3 for f, t in drops.items() if f in commits]
        self.check("mover.commits", len(drops), len(drops) - len(lat), "mover: files without a commit")
        self.metrics["items_per_s"] = median(rates)
        self.metrics["latency_p50_ms"] = median(lat)
        self.metrics_layer("bench.latency_p95_ms", pct(lat, 0.95))
        rows = len(drops) * gen.MOVER_LINES_PER_FILE
        recent = [b for b in self.wait_progress("mover") if b["batchId"] > 0]
        self.phase_layers(recent, rows, busy)
        n, b = dir_bytes(self.dest, ".parquet")
        self.metrics_layer("sinks.parquet.files_written", n)
        self.metrics_layer("sinks.parquet.bytes_written", b)
        self.metrics_layer("manager.rows_per_s", rows / busy)

    def check_mover(self) -> None:
        from pyspark.sql import functions as F

        from brooklin_spark.functions.serde import (
            DATASTREAM_EVENT_AVRO,
            SchemaRegistry,
            frame_is_valid,
        )

        reg = SchemaRegistry()
        sid = reg.register(DATASTREAM_EVENT_AVRO)
        out = self.spark.read.parquet(self.dest)  # committed files only (_spark_metadata)
        n_gen = sum(len(v) for v in self.generated.values())
        fp = F.element_at(F.col("metadata"), "file-path")
        stats = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(fp, F.col("offset")).alias("n_distinct"),
            F.sum(F.when(frame_is_valid(F.col("value"), sid), 0).otherwise(1)).alias("bad"),
        ).first()
        lost_or_dup = abs(stats["n"] - n_gen) + (stats["n"] - stats["n_distinct"])
        self.check("mover.rows", n_gen, lost_or_dup,
                   f"mover: {stats['n']} rows out, {stats['n_distinct']} distinct, "
                   f"{n_gen} generated")
        self.check("mover.frames", stats["n"], stats["bad"] or 0, "mover: invalid avro frames")
        # a fixed sample: the first timed file's rows with the smallest offsets
        sample = (
            out.filter(fp.endswith("/r000_f0000.jsonl"))
            .select(fp.alias("fp"), "offset", "value")
            .orderBy("offset")
            .limit(MOVER_SAMPLE_DECODES)
            .collect()
        )
        bad = MOVER_SAMPLE_DECODES - len(sample)
        for r in sample:
            payload = bytes(reg.decode_framed(r["value"])["payload"]).decode()
            bad += payload not in self.generated.get(os.path.basename(r["fp"]), ())
        self.check("mover.decode", MOVER_SAMPLE_DECODES, bad,
                   "mover: sample rows missing or not decoding to their line")

    def functions_layers(self) -> None:
        """Traced run only: time the envelope, the avro serde and the
        parquet write on the first round's input read as one batch frame."""
        from pyspark.sql import functions as F

        from brooklin_spark.functions.serde import apply_serdes
        from brooklin_spark.sources.file_source import _lines_to_envelope

        spec = self.manager.get("mover")
        files = sorted(os.path.join(self.src, f) for f in self.generated if f.startswith("r000_"))
        lines = self.spark.read.text(files)
        env = _lines_to_envelope(lines, "mover")
        ser = apply_serdes(env, spec)

        def timed(fn) -> float:
            best = []
            for _ in range(2):
                t = time.perf_counter()
                fn()
                best.append((time.perf_counter() - t) * 1e3)
            return min(best)

        t_env = timed(lambda: env.write.format("noop").mode("overwrite").save())
        t_ser = timed(lambda: ser.write.format("noop").mode("overwrite").save())
        pq = os.path.join(self.workdir, "functions_pq")
        t_pq = timed(lambda: ser.write.mode("overwrite").partitionBy("topic").parquet(pq))
        bpr = ser.agg(F.avg(F.length("value"))).first()[0]
        self.metrics_layer("functions.envelope_ms", t_env)
        self.metrics_layer("functions.serde.avro_ms", max(0.0, t_ser - t_env))
        self.metrics_layer("functions.serde.bytes_per_row", bpr or 0.0)
        self.metrics_layer("sinks.parquet_write_ms", max(0.0, t_pq - t_ser))

    # ------------------------------------------------------------ cdc-paced
    def measure_cdc(self) -> None:
        from brooklin_spark import manager as manager_mod
        from brooklin_spark.sinks import materialize

        staging = os.path.join(self.workdir, "staging")
        os.makedirs(staging, exist_ok=True)
        self.stream = gen.CdcStream(self.seed)
        # untimed: the first batch of a stream pays one-off JVM warm-up
        warm = gen.write_staged(staging, "w0000.jsonl", self.stream.next_file())
        os.rename(warm, os.path.join(self.src, "w0000.jsonl"))
        self.manager.process_available("cdc")
        n_files = max(1, int(round(CDC_FILES_PER_S * self.seconds)))
        staged, nlines, nbytes = [], {}, {}
        for i in range(n_files):
            lines = self.stream.next_file()
            p = gen.write_staged(staging, f"c{i:05d}.jsonl", lines)
            staged.append(p)
            nlines[os.path.basename(p)] = len(lines)
            nbytes[os.path.basename(p)] = os.path.getsize(p)
        # traced run: spans around the sink calls of the composed split sink
        rewritten = []
        if self.tr.enabled:
            orig_merge, orig_write = materialize.merge_batch, manager_mod.write_batch

            def merge_traced(batch_df, root, spark=None, keep_versions=2):
                with self.tr.span("materialize.merge_batch", "sinks.materialize"):
                    orig_merge(batch_df, root, spark, keep_versions)
                v = materialize.current_version(root)
                if v is not None:
                    rewritten.append(dir_bytes(os.path.join(root, f"v{v}"), ".parquet")[1])

            materialize.merge_batch = merge_traced
            manager_mod.write_batch = self.tr.wrap(orig_write, "manager.write_batch", "sinks")
        period = 1.0 / CDC_FILES_PER_S
        late: list[float] = []
        t0 = self.start_window(lead=0.2)
        wall0 = time.time() + (t0 - time.perf_counter())

        def drive():
            for i, p in enumerate(staged):
                due = t0 + i * period
                with self.tr.span("generator.wait", "idle"):
                    while (now := time.perf_counter()) < due:
                        time.sleep(min(0.005, due - now))
                with self.tr.span("generator.drop", "bench"):
                    os.rename(p, os.path.join(self.src, os.path.basename(p)))
                late.append((now - due) * 1e3)

        g = threading.Thread(target=drive, name="generator")
        g.start()
        with self.tr.span("window", "idle"):
            g.join()
        lag = n_files + 1 - len(self.commit_times("cdc"))
        with self.tr.span("process_available", "wait"):
            self.manager.process_available("cdc")
        self.busy_end = time.perf_counter()
        if self.tr.enabled:
            materialize.merge_batch, manager_mod.write_batch = orig_merge, orig_write
        commits = self.commit_times("cdc")
        lat = []
        for i, p in enumerate(staged):
            f = os.path.basename(p)
            if f in commits:
                lat.append((commits[f] - (wall0 + i * period)) * 1e3)
        self.check("cdc.commits", n_files, n_files - len(lat), "cdc: files without a commit")
        rows = sum(nlines[f] for f in commits if f in nlines)
        span_s = max(commits.values()) - wall0 if commits else 1.0
        self.metrics["items_per_s"] = rows / span_s
        self.metrics["latency_p50_ms"] = median(lat)
        self.metrics_layer("bench.latency_p95_ms", pct(lat, 0.95))
        recent = [b for b in self.wait_progress("cdc") if b["batchId"] > 0]
        self.phase_layers(recent, rows, self.busy_end - t0)
        self.metrics_layer("sources.lag_files_end", lag)
        self.metrics_layer("bench.generator_late_ms_p95", pct(late, 0.95))
        merges = self.tr.durations_ms("materialize.merge_batch")
        self.metrics_layer("sinks.materialize.merge_batch_ms_p50", median(merges))
        self.metrics_layer("sinks.materialize.merge_batch_ms_p95", pct(merges, 0.95))
        in_bytes = sum(nbytes.values())
        self.metrics_layer("sinks.materialize.bytes_rewritten_per_input_byte", sum(rewritten) / in_bytes)
        adds = sum(b["durationMs"].get("addBatch", 0) for b in recent if b["numInputRows"])
        nb = max(1, sum(1 for b in recent if b["numInputRows"]))
        if merges:
            self.metrics_layer("manager.split_ms", max(0.0, adds - sum(merges)) / nb)

    def check_cdc(self) -> None:
        from brooklin_spark.sinks.materialize import read_state

        st = read_state(self.spark, self.dest)
        got = [bytes(r[0]).decode() for r in st.select("value").collect()] if st else []
        want = self.stream.distinct_valid()
        missing = len(want - set(got))
        extra = len(got) - len(set(got)) + len(set(got) - want)
        self.check("cdc.state", len(want), missing + extra,
                   f"cdc: state {missing} missing, {extra} extra rows")
        dl = self.manager.dead_letters("cdc")
        dl_vals = sorted(bytes(r[0]).decode() for r in dl.select("value").collect()) if dl else []
        n_dl = max(1, len(self.stream.oversized))
        self.check("cdc.deadletters", n_dl, 0 if dl_vals == sorted(self.stream.oversized) else n_dl,
                   "cdc: dead-letter store mismatch")
        self.metrics_layer("sinks.materialize.state_rows_end", len(got))
        self.metrics_layer("manager.deadletter_rows", len(dl_vals))

    # -------------------------------------------------------- analytics-mix
    def measure_analytics(self) -> None:
        """Passes over the query mix in the fresh session, results collected
        to the driver, until ``seconds`` have passed. The first pass pays
        the session's one-off costs (code generation, JIT, the persisted IVF
        index build), as one analytics job does."""
        import traceback

        from brooklin_spark import registry

        per_q = {q: ([], []) for q in ANALYTICS_QUERIES}
        lat, passes = [], []
        busy, npass = 0.0, 0
        self.results = {}
        self.start_window()
        while npass < 1 or busy < self.seconds:
            pass_s = 0.0
            for q in ANALYTICS_QUERIES:
                t0 = time.perf_counter()
                try:
                    with self.tr.span(f"{q}.build", "queries"):
                        df = registry.QUERIES[q](self.spark, self.data_dir)
                    t1 = time.perf_counter()
                    with self.tr.span(f"{q}.exec", "queries"):
                        self.results[q] = df.toPandas()
                    t2 = time.perf_counter()
                    ok = True
                except Exception:  # a failing query is counted, the run goes on
                    traceback.print_exc()
                    t1 = t2 = time.perf_counter()
                    self.results.pop(q, None)
                    ok = False
                self.check_one(f"analytics.{q}", ok, f"analytics: {q} raised")
                per_q[q][0].append(t1 - t0)
                per_q[q][1].append(t2 - t1)
                lat.append((t2 - t0) * 1e3)
                pass_s += t2 - t0
            passes.append(pass_s)
            busy += pass_s
            npass += 1
        self.metrics["items_per_s"] = len(ANALYTICS_QUERIES) / median(passes)
        self.metrics["latency_p50_ms"] = median(lat)
        self.metrics_layer("bench.latency_p95_ms", pct(lat, 0.95))
        self.metrics_layer("queries.pass_s", median(passes))
        for q, (b, e) in per_q.items():
            self.metrics_layer(f"queries.{q}.build_s", median(b))
            self.metrics_layer(f"queries.{q}.exec_s", median(e))

    def check_analytics(self) -> None:
        """Each query's last collected result against its DuckDB oracle."""
        from brooklin_spark import registry

        sys.path.insert(0, os.path.join(ROOT, "tests"))
        import oracle

        class Collected:  # what oracle.compare needs of a DataFrame
            def __init__(self, pdf):
                self.pdf = pdf

            def toPandas(self):  # noqa: N802
                return self.pdf

        con = oracle.duck_connection(self.data_dir)
        for q in ANALYTICS_QUERIES:
            if q not in self.results:
                continue  # already counted as failed
            try:
                oracle.compare(Collected(self.results[q]), con, registry.ORACLES[q], q)
                ok = True
            except AssertionError as e:
                print(f"oracle mismatch: {e}", file=sys.stderr)
                ok = False
            self.check_one(f"analytics.{q}", ok, f"analytics: {q} differs from its oracle")
        con.close()

    # ------------------------------------------------------------- tracing
    def layer_table(self, t0: float, t1: float) -> dict:
        table = self.tr.self_times(t0, t1)
        for thread, row in table.items():
            for k in list(row):
                row[k] = round(row[k], 6)
        main = table.get("MainThread", {})
        for layer in TRACE_LAYERS:
            tot = sum(r.get(layer, 0.0) for th, r in table.items() if layer != "unattributed" or th == "MainThread")
            self.metrics_layer(f"self.{layer}_s", tot)
        self.metrics_layer("self.unattributed_s", main.get("unattributed", 0.0))
        return table


TRACE_LAYERS = (
    "manager", "sources", "checkpoint",
    "sinks", "sinks.materialize", "rest", "queries", "bench", "idle", "wait",
)


def spec_of(kind: str) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


def analytics_data(seed: int) -> str:
    """Generated tables, cached per seed inside the checkout (generation is
    not part of any timed region)."""
    d = os.path.join(ROOT, ".perfbench_cache", f"analytics-sf{ANALYTICS_SF}-seed{seed}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        tmp = f"{d}.tmp{os.getpid()}"
        gen.write_tables(gen.analytics_tables(seed, ANALYTICS_SF), tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        os.makedirs(os.path.dirname(d), exist_ok=True)
        try:
            os.rename(tmp, d)
        except OSError:  # another run published the same tables first
            shutil.rmtree(tmp, ignore_errors=True)
    return d


def run_baseline(seed: int, seconds: int, workdir: str, outdir: str) -> float:
    """Single-threaded reference: one mover-drain round at one core."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="1")
    wd = os.path.join(workdir, "baseline")
    os.makedirs(os.path.join(wd, "tmp"), exist_ok=True)
    env["TMPDIR"] = os.path.join(wd, "tmp")
    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "mover-drain", str(seed), str(seconds),
         "0", wd, outdir, "--baseline"],
        env=env, stdout=subprocess.PIPE, text=True, timeout=170,
    )
    last = (p.stdout.strip().splitlines() or ["{}"])[-1]
    return float(json.loads(last).get("rows_per_s", 0.0))


def main(argv: list[str]) -> int:
    workload, seed, seconds, trace, workdir, outdir = argv[:6]
    seed, seconds, trace = int(seed), int(seconds), bool(int(trace))
    baseline = "--baseline" in argv
    run = Run(workload, seed, seconds, trace, workdir)
    os.makedirs(outdir, exist_ok=True)
    if workload == "analytics-mix":
        run.data_dir = analytics_data(seed)
    clock_offset = time.time() - time.perf_counter()
    t_origin = time.perf_counter()
    # samples CPU speed from before the cold setup to the end of the window
    run.monitor = None if baseline else Monitor(workdir)
    # rep 0 is the cold setup; the warm ones stop the session and start it
    # again in the same JVM and interpreter
    reps = 1 if baseline else 1 + SETUP_REPS
    setups = []
    log("start")
    t_cold = time.time()
    for rep in range(reps):
        setups.append(run.setup_once(rep))
        log(f"setup {rep}: {setups[-1]:.2f}s")
        if rep < reps - 1:
            run.teardown()
    cold_wall = (t_cold, t_cold + setups[0])
    run.metrics["setup_s"] = median(setups[1:] or setups)
    for k in ("session.get_spark_s", "registry.load_all_s", "manager.create_ms"):
        run.layer[k] = run.layer[k][0]  # the cold setup's
    if baseline:
        run.measure_mover(rounds_max=1)
        print(json.dumps({"rows_per_s": run.layer["manager.rows_per_s"]}))
        run.teardown()
        return 0

    {"mover-drain": run.measure_mover, "cdc-paced": run.measure_cdc,
     "analytics-mix": run.measure_analytics}[workload]()
    t_end = time.perf_counter()
    log(f"measured {t_end - run.timed_from:.2f}s")
    t_meas = run.timed_from
    run.layer["session.jvm_gc_ms"] = run.jvm_gc_ms() - run.gc0
    mon = run.monitor
    mon.finish(clock_offset + run.timed_from)
    run.monitor = None
    if trace:
        prev_end = None
        for kind, w0, w1, _ok in mon.spans:
            t0, t1 = w0 - clock_offset, w1 - clock_offset
            if prev_end is not None:
                run.tr.add("monitor.think", "idle", "monitor", prev_end, t0)
            run.tr.add(f"rest.{kind}", "rest", "monitor", t0, t1)
            prev_end = t1
    # the host's CPU speed swings by up to ±30% from one second to the next;
    # scaling by the speed sampled through the same interval reports the
    # timings at the reference CPU speed
    probe_s = mon.probe_s(clock_offset + t_meas, clock_offset + t_end)
    speed = REF_CPU_PROBE_S / probe_s  # > 1: faster than the reference
    run.metrics["items_per_s_norm"] = run.metrics["items_per_s"] / speed
    run.metrics["latency_p50_ms_norm"] = run.metrics["latency_p50_ms"] * speed
    probe_cold = mon.probe_s(*cold_wall)
    run.metrics["cold_start_s_norm"] = setups[0] * REF_CPU_PROBE_S / probe_cold
    run.metrics_layer("bench.cpu_probe_ms", probe_s * 1e3)
    run.metrics_layer("bench.cpu_probe_cold_ms", probe_cold * 1e3)
    run.metrics_layer("bench.cold_start_s_raw", setups[0])
    run.metrics_layer("bench.items_per_s_raw", run.metrics["items_per_s"])
    run.metrics_layer("bench.latency_p50_ms_raw", run.metrics["latency_p50_ms"])
    calls = mon.all_ms()
    run.metrics_layer("rest.control_p50_ms", median(calls))
    run.metrics_layer("rest.control_p95_ms", pct(calls, 0.95))
    run.check("rest", len(calls), mon.errors, "rest: failed calls")
    for op in ("health", "metrics"):
        run.metrics_layer(f"rest.{op}_ms_p50", median(mon.calls[op]))
        run.metrics_layer(f"rest.{op}_ms_p95", pct(mon.calls[op], 0.95))
    run.metrics_layer("rest.calls", len(calls))
    run.metrics_layer("rest.errors", mon.errors)
    run.metrics["peak_rss_mb"] = vm_hwm_mb(os.getpid()) + vm_hwm_mb(run.jvm_pid())

    # correctness, outside the timed region
    {"mover-drain": run.check_mover, "cdc-paced": run.check_cdc,
     "analytics-mix": run.check_analytics}[workload]()
    log("checked")
    run.metrics["checks_ok_frac"] = sum(run.checks.values()) / len(run.checks)

    table = {}
    if trace:
        if workload == "mover-drain":
            run.functions_layers()
        if workload in ("mover-drain", "cdc-paced"):
            run.synth_stream_spans(run.pipelines[0], clock_offset)
        table = run.layer_table(t_meas, t_end)
    run.teardown()
    if trace and workload == "mover-drain":
        run.metrics_layer("baseline.cpus1_rows_per_s", run_baseline(seed, seconds, workdir, outdir))

    log("torn down")
    untraced_path = os.path.join(outdir, f"untraced-seed{seed}.json")
    tree = tree_digest()
    if trace:
        prev = None
        if os.path.exists(untraced_path):
            with open(untraced_path) as f:
                prev = json.load(f)
            if prev.get("tree") != tree:
                prev = None  # made by other code: not comparable
        # on the normalized latency: the raw one follows the host's speed drift
        key = "latency_p50_ms_norm"
        if prev and prev["metrics"].get(key):
            base = prev["metrics"][key]
            run.metrics_layer("trace.overhead_pct", 100.0 * (run.metrics[key] - base) / base)
        run.tr.dump(os.path.join(outdir, "spans.jsonl"), t_origin)
        with open(os.path.join(outdir, "layers.json"), "w") as f:
            json.dump({"workload": workload, "seed": seed, "tree": tree,
                       "window_s": t_end - t_meas,
                       "self_time_by_thread": table, "per_layer": run.layer,
                       "end_to_end_traced": run.metrics, "untraced": prev,
                       "checks": run.checks, "fail_notes": run.fail_notes},
                      f, indent=1, sort_keys=True)
        specs = spec_of("per_layer")
        values = run.layer
    else:
        with open(untraced_path, "w") as f:
            json.dump({"tree": tree, "at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                       "metrics": run.metrics}, f)
        specs = spec_of("end_to_end")
        values = run.metrics
    for note in run.fail_notes:
        print(f"FAILED: {note}", file=sys.stderr)
    result = {
        "correct": run.failed == 0,
        "attempted": int(run.attempted),
        "failed": int(run.failed),
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in specs
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
