"""The benchmark's workloads: seeded fixtures, the timed product-path
operations, their correctness checks and the traced per-layer split.

Every operation is a call a user makes: ``read_source`` or
``read_osm_pbf`` into ``plans.manifest.encode_job`` (a fresh store per
write), then ``plans.manifest.read_encoded`` as a full scan with a
checksum aggregate and as a point lookup. Each is paired with the same
operation on Spark's own zstd-3 Parquet copy of the rows, run right
after it, and reported as the ratio of the two times. Operations run
one at a time (a closed loop with one client). Each operation's output
is checked after its clock stops.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import nullcontext

import numpy as np

from harness import CORES, SparkProbe, Tracer, WorkerSampler, median

#: chunk-group identity in a store (operators/encode.py decode key)
GROUP_KEYS = ["run_id", "partition_id", "chunk_seq"]
#: setup is repeated this many times per run; setup_s takes the median
SETUP_REPEATS = 2
#: codec micro-benchmark slice cap per column (the engine's minimum
#: chunk target, config.MIN_CHUNK)
SLICE_BYTES = 4 << 20
#: a run stops starting operations after this many seconds of
#: measuring, even when an operation kind is short of its minimum count
MEASURE_CAP_S = 90.0
#: one round of measured reads of the serve store; lookups first, as
#: they warm the decode path least evenly
READ_ROUND = (("lookup", 1), ("scan", 1))
#: the untimed warm-up, each operation with one Parquet run: a write
#: (the serve store) and these reads pay the JVM's first compilations
#: and the Python workers' imports
WARMUP_READS = (("lookup", 1), ("scan", 1))
#: share of --seconds given to the reads; the writes come after them,
#: as a write slows the reads that follow it for a while
READ_SHARE = 0.5
#: runs of the Parquet operation after each operation (a Parquet read
#: takes about 0.2 s and a write 0.6 s, short enough for scheduling
#: jitter to show in single samples)
BASE_REPEATS = 3
#: an untraced run goes on past its share of --seconds until every
#: operation kind has this many measured operations
MIN_OPS = {"write": 2, "scan": 4, "lookup": 4}

SPECS = {
    "pages_ingest_serve": {
        "rows": 25_000, "smoke_rows": 3_000, "key": "url",
        "bloom": ["url"],
    },
    "osm_transcode": {
        "rows": 30_000, "smoke_rows": 6_000, "key": "id",
        "bloom": None,
    },
}

CODECS = ("bitpack", "delta", "rle", "dictint", "alp", "xorf", "str_dict",
          "str_fsst", "str_zstd", "str_plain", "plain", "zstd")
PAGES_COLUMNS = ("url", "warc_ts", "html", "text", "lang")
OSM_COLUMNS = ("id", "type", "tags", "lat", "lon", "nds", "members",
               "changeset", "timestamp", "uid", "user", "version", "visible")


def du(path: str, skip_hidden: bool = True) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``, leaving out
    hidden files (Hadoop .crc sidecars) and _SUCCESS markers."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if skip_hidden and (n.startswith(".") or n.startswith("_")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def row_hash(df):
    """pmod(xxhash64(all columns), 2^31-1) per row. Map columns hash as
    sorted entry arrays (Spark refuses to hash maps); the pmod keeps a
    sum over rows inside a long under ANSI mode."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    cols = [
        F.sort_array(F.map_entries(f.name))
        if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in df.schema.fields
    ]
    return F.pmod(F.xxhash64(*cols), F.lit(2**31 - 1))


def checksum(df) -> tuple[int, int]:
    """(count, sum of row_hash)."""
    from pyspark.sql import functions as F

    row = df.agg(F.count(F.lit(1)), F.sum(row_hash(df))).collect()[0]
    return int(row[0]), int(row[1] or 0)


def _canon_rows(rows) -> list[str]:
    return sorted(repr(r) for r in rows)


class Run:
    """One benchmark run of one workload for one seed."""

    def __init__(self, spark, workload: str, seed: int, work: str,
                 trace: bool, smoke: bool = False):
        self.spark = spark
        self.name = workload
        self.spec = SPECS[workload]
        self.seed = seed
        self.work = work
        self.trace = trace
        self.smoke = smoke
        self.size = self.spec["smoke_rows" if smoke else "rows"]
        self.tracer = Tracer(trace)
        self.probe = SparkProbe(spark) if trace else None
        self.sampler = WorkerSampler().start()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        kinds = ("write", "scan", "lookup")
        # walls of the untraced measured operations, of the same
        # operations on the Parquet copy right after each, of the
        # warm-up's operations, and the records of the traced ones
        self.walls: dict[str, list[float]] = {k: [] for k in kinds}
        self.base_walls: dict[str, list[float]] = {k: [] for k in kinds}
        self.warm_walls: dict[str, list[float]] = {k: [] for k in kinds}
        self.traced: dict[str, list[dict]] = {k: [] for k in kinds}
        self.store_bytes: list[int] = []
        self.warming = False
        self.n_lookups = 0
        self.stores: list[str] = []
        self.store_root = os.path.join(
            work, "stores", "traced" if trace else "plain")
        self.base_root = os.path.join(work, "parquet")
        self.n_ops = 0

    # --- fixtures -----------------------------------------------------

    def fixture_dir(self, rep: int | str) -> str:
        # keyed by seed AND size: the engine's fixture writers cache by
        # path alone, so an unkeyed path would reuse another seed's file
        return os.path.join(
            self.work, "fixtures",
            f"{self.name}-seed{self.seed}-size{self.size}", f"rep{rep}")

    def build_fixture(self, d: str) -> dict:
        """Generate the workload input under ``d`` and write the
        reference Parquet (Spark's writer, zstd level 3) of the same
        rows. Returns the paths."""
        os.makedirs(d, exist_ok=True)
        ref = os.path.join(d, "reference.parquet")
        if self.name == "osm_transcode":
            from osm_pbf_parquet_spark.sources.pbf import synthetic_osm_pbf

            src = synthetic_osm_pbf(os.path.join(d, "input.osm.pbf"),
                                    n_nodes=self.size, seed=self.seed)
        else:
            from osm_pbf_parquet_spark.sources.pages import pages_parquet

            src = pages_parquet(os.path.join(d, "input.parquet"), self.size,
                                self.seed)
        fx = {"input": src, "reference": ref}
        (self.read_source(fx).write.mode("overwrite")
         .option("compression", "zstd")
         .option("parquet.compression.codec.zstd.level", "3")
         .parquet(ref))
        return fx

    def read_source(self, fx: dict):
        if self.name == "osm_transcode":
            from osm_pbf_parquet_spark.sources.pbf import read_osm_pbf

            return read_osm_pbf(self.spark, fx["input"])
        from osm_pbf_parquet_spark.sources.tables import read_source

        return read_source(self.spark, fx["input"])

    def setup(self) -> float:
        """Build the fixture SETUP_REPEATS times into fresh directories
        and keep the last; returns the median build time."""
        times = []
        for rep in range(SETUP_REPEATS):
            d = self.fixture_dir(rep)
            shutil.rmtree(d, ignore_errors=True)
            t0 = time.perf_counter()
            fx = self.build_fixture(d)
            times.append(time.perf_counter() - t0)
            if rep < SETUP_REPEATS - 1:
                shutil.rmtree(d, ignore_errors=True)
        self.fx = fx
        return median(times)

    def prepare_checks(self):
        """Source-side answers, computed once and never timed, from the
        reference Parquet: Spark's own copy of the source rows, cheaper
        to scan than the PBF."""
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        self.schema = self.read_source(self.fx).schema
        src = self.spark.read.parquet(self.fx["reference"])
        key = self.spec["key"]
        self.rows, self.src_checksum = checksum(src)
        self.ref_bytes = du(self.fx["reference"])[0]
        keys = sorted(pq.read_table(self.fx["reference"], columns=[key])
                      .column(key).to_pylist())
        rng = np.random.default_rng(self.seed + 1)
        n_keys = min(len(keys), 64)
        self.keys = [keys[i] for i in
                     rng.choice(len(keys), n_keys, replace=False)]
        expected: dict = {k: [] for k in self.keys}
        for r in src.filter(F.col(key).isin(self.keys)).collect():
            expected[r[key]].append(r)
        self.expected = {k: _canon_rows(v) for k, v in expected.items()}

    # --- operations ---------------------------------------------------

    def op_write(self, out: str) -> dict:
        from osm_pbf_parquet_spark.plans.manifest import encode_job

        src = self.read_source(self.fx)
        return encode_job(self.spark, src, out, key_col=self.spec["key"],
                          bloom_cols=self.spec["bloom"])

    def op_scan(self, store: str):
        from osm_pbf_parquet_spark.plans.manifest import read_encoded

        return checksum(read_encoded(self.spark, store, self.schema))

    def op_lookup(self, store: str, key):
        from osm_pbf_parquet_spark.plans.manifest import read_encoded

        return read_encoded(self.spark, store, self.schema,
                            where=[(self.spec["key"], "==", key)]).collect()

    # --- the same operations on Spark's zstd-3 Parquet copy -----------

    def base_write(self, out: str) -> str:
        (self.spark.read.parquet(self.fx["reference"]).write
         .mode("overwrite").option("compression", "zstd")
         .option("parquet.compression.codec.zstd.level", "3").parquet(out))
        return out

    def base_scan(self, _store):
        return checksum(self.spark.read.parquet(self.fx["reference"]))

    def base_lookup(self, _store, key):
        from pyspark.sql import functions as F

        return self.spark.read.parquet(self.fx["reference"]).filter(
            F.col(self.spec["key"]) == key).collect()

    def check(self, kind: str, result, arg) -> str | None:
        """None when ``result`` is right, else what is wrong."""
        if kind == "write":
            if result["rows"] != self.rows:
                return f"committed {result['rows']} rows, source {self.rows}"
            return None
        if kind == "scan":
            if result != (self.rows, self.src_checksum):
                return f"checksum {result} != source " \
                       f"{(self.rows, self.src_checksum)}"
            return None
        got = _canon_rows(result)
        if len(got) != 1 or got != self.expected[arg]:
            return f"lookup {arg!r} returned {len(got)} rows, " \
                   "not the one source row"
        return None

    def run_op(self, kind: str, traced: bool, store: str | None = None,
               arg=None, base: bool = False):
        """Time one operation, then check its output. An exception or
        a wrong output counts as a failed operation. ``base`` runs the
        same operation on the Parquet copy instead (never traced)."""
        self.n_ops += 1
        op = f"{'parquet-' if base else ''}{kind}-{self.n_ops}"
        self.attempted += 1
        rec = {"op": op}
        if base:
            fn = {"write": self.base_write, "scan": self.base_scan,
                  "lookup": self.base_lookup}[kind]
        else:
            fn = {"write": self.op_write, "scan": self.op_scan,
                  "lookup": self.op_lookup}[kind]
        args = (store,) if arg is None else (store, arg)
        with self.tracer.span(f"op.{kind}", op) if traced else nullcontext():
            try:
                if traced:
                    self.layer_prefix(kind, op, store, arg, rec)
                    self.probe.begin(op)
                self.sampler.open_window()
                with self.tracer.span(_OP_SPAN[kind], op) if traced \
                        else nullcontext():
                    t0 = time.perf_counter()
                    result = fn(*args)
                    wall = time.perf_counter() - t0
                rec["python_workers"], rec["peak_rss"] = \
                    self.sampler.close_window()
                if traced:
                    rec.update(self.probe.end(_KERNEL[kind]))
            except Exception as e:  # noqa: BLE001 — a failed op is data
                self.failed += 1
                self.errors.append(f"{op}: {type(e).__name__}: {e}"[:500])
                return None
        if base and kind == "write":
            result = {"rows": parquet_rows(result)}
            shutil.rmtree(store, ignore_errors=True)
        problem = self.check(kind, result, arg)
        if problem is not None:
            self.failed += 1
            self.errors.append(f"{op}: {problem}")
            return None
        rec["wall"] = wall
        if traced:
            self.traced[kind].append(rec)
        elif self.warming:
            self.warm_walls[kind].append(wall)
        elif base:
            self.base_walls[kind].append(wall)
        else:
            self.walls[kind].append(wall)
        return result

    def pair(self, kind: str, traced: bool, store: str, arg=None):
        """An operation and, unless traced, the same operation on the
        Parquet copy BASE_REPEATS times (once in the warm-up) right
        after it. Returns the operation's result."""
        result = self.run_op(kind, traced, store, arg)
        if not traced:
            for _ in range(1 if self.warming else BASE_REPEATS):
                out = os.path.join(self.base_root, f"w{self.n_ops}")
                self.run_op(kind, False, out if kind == "write" else store,
                            arg, base=True)
        return result

    # --- traced-only layer prefixes -----------------------------------

    def layer_prefix(self, kind, op, store, arg, rec):
        """Calls into single layers ahead of a traced operation: the
        source and encode prefixes of a write drained into Spark's noop
        sink, and the manifest resolve and bloom/zone-map pruning
        ahead of a read."""
        from pyspark.sql import functions as F

        if kind == "write":
            from osm_pbf_parquet_spark.config import (
                derive_chunk_target, derive_num_partitions)
            from osm_pbf_parquet_spark.operators.encode import (
                encode_dataframe, with_partition_id)

            with self.tracer.span("sources.noop", op) as s:
                self.read_source(self.fx).write.format("noop") \
                    .mode("overwrite").save()
            rec["scan_noop"] = Tracer.wall(s)
            with self.tracer.span("encode.noop", op) as s:
                n = derive_num_partitions(self.spark)
                src = with_partition_id(
                    self.read_source(self.fx), self.spec["key"], n)
                encode_dataframe(
                    src, key_col=self.spec["key"], num_partitions=n,
                    target_chunk_bytes=derive_chunk_target(self.spark),
                    bloom_cols=self.spec["bloom"],
                ).write.format("noop").mode("overwrite").save()
            rec["encode_noop"] = Tracer.wall(s)
            return
        from osm_pbf_parquet_spark.plans.manifest import (
            read_committed_chunks, read_manifest)

        with self.tracer.span("manifest.resolve", op) as s:
            manifest = read_manifest(self.spark, store)
            chunks = read_committed_chunks(
                self.spark, store, manifest.filter(F.col("status") == "done"))
        rec["resolve"] = Tracer.wall(s)
        if kind == "lookup":
            from osm_pbf_parquet_spark.operators.pruning import (
                parse_where, prune_where)

            with self.tracer.span("pruning.prune_where", op):
                kept = prune_where(
                    chunks, parse_where([(self.spec["key"], "==", arg)]),
                    self.schema)
                rec["groups"] = kept.select(*GROUP_KEYS).distinct().count()

    # --- the measured loop --------------------------------------------

    def write(self, traced: bool):
        """A write into a fresh store, with its Parquet runs."""
        store = os.path.join(self.store_root, f"w{self.n_ops}")
        if self.pair("write", traced, store) is not None:
            self.stores.append(store)
            self.store_bytes.append(sum(
                du(os.path.join(store, d))[0] for d in ("chunks", "manifest")))

    def reads(self, traced: bool, plan, stop=lambda: False) -> bool:
        """``plan`` reads of the serve store (the warm-up's write), each
        with its Parquet runs. ``stop`` is asked after each read and its
        Parquet runs whether to end early; returns True if it did."""
        serve = self.stores[0]
        for kind, n in plan:
            for _ in range(n):
                arg = None
                if kind == "lookup":
                    arg = self.keys[self.n_lookups % len(self.keys)]
                    self.n_lookups += 1
                self.pair(kind, traced, serve, arg)
                if stop():
                    return True
        return False

    def measure(self, seconds: float) -> float:
        """An untimed warm-up, then a closed loop of measured read
        rounds for READ_SHARE of ``seconds``, then of measured writes
        for the rest; each loop goes on until its kinds have their
        minimum number of operations, and may stop inside a round. A traced
        run starts each loop with one traced round, so tracing overhead
        is measured against untraced operations of the same run.
        Returns the measured seconds."""
        self.sampler.reset_peak()
        t0 = time.perf_counter()
        self.warming = True
        self.write(False)
        if self.stores:
            self.reads(False, WARMUP_READS)
        self.warming = False
        self.warmup_s = time.perf_counter() - t0
        t0 = time.perf_counter()

        def done(kinds, share) -> bool:
            elapsed = time.perf_counter() - t0
            return elapsed >= MEASURE_CAP_S or (
                elapsed >= share * seconds and all(
                    len(self.walls[k]) >= (1 if self.smoke or self.trace
                                           else MIN_OPS[k])
                    for k in kinds))

        if self.stores:
            if self.trace:
                self.reads(True, READ_ROUND)
            read_kinds = [k for k, _ in READ_ROUND]
            while not self.reads(False, READ_ROUND,
                                 lambda: done(read_kinds, READ_SHARE)):
                pass
        if self.trace:
            self.write(True)
        while not done(["write"], 1.0):
            self.write(False)
        self.peak_rss = self.sampler.peak_rss
        return time.perf_counter() - t0

    # --- results ------------------------------------------------------

    def end_to_end(self, setup_s: float) -> dict:
        def r(kind):
            base = median(self.base_walls[kind])
            return median(self.walls[kind]) / base if base else 0.0

        ok = (self.attempted - self.failed) / max(1, self.attempted)
        vals = {
            "setup_s": (setup_s, "s"),
            "write_time_vs_parquet": (r("write"), "ratio"),
            "stored_vs_parquet": (
                median(self.store_bytes) / max(1, self.ref_bytes), "ratio"),
            "scan_time_vs_parquet": (r("scan"), "ratio"),
            "lookup_time_vs_parquet": (r("lookup"), "ratio"),
            "worker_peak_rss_mb": (self.peak_rss / 1e6, "MB"),
            "ok_ops_ratio": (ok, "ratio"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}

    def per_layer(self) -> dict:
        t = self.traced
        vals: dict[str, tuple[float, str]] = {}
        # the write split of the median traced write: the three parts
        # sum to that encode_job's wall
        ws = sorted(t["write"], key=lambda r: r["wall"])
        mid = ws[len(ws) // 2] if ws else None
        vals["sources.scan_s"] = (mid["scan_noop"] if mid else 0.0, "s")
        vals["encode.exchange_kernel_s"] = (
            mid["encode_noop"] - mid["scan_noop"] if mid else 0.0, "s")
        vals["manifest.commit_s"] = (
            mid["wall"] - mid["encode_noop"] if mid else 0.0, "s")

        def med(kind, field):
            return median([r[field] for r in t[kind]])

        vals["encode.write_tasks"] = (med("write", "arrow_tasks"), "count")
        vals["encode.decode_tasks_scan"] = (med("scan", "arrow_tasks"), "count")
        vals["encode.decode_tasks_lookup"] = (
            med("lookup", "arrow_tasks"), "count")
        vals["encode.shuffle_write_mb"] = (
            med("write", "shuffle_write") / 1e6, "MB")
        vals["encode.bridge_in_mb"] = (med("write", "bridge_in") / 1e6, "MB")
        vals["encode.bridge_out_mb"] = (med("write", "bridge_out") / 1e6, "MB")
        vals["encode.bridge_in_mb_scan"] = (
            med("scan", "bridge_in") / 1e6, "MB")
        vals["encode.bridge_out_mb_scan"] = (
            med("scan", "bridge_out") / 1e6, "MB")
        vals["encode.python_workers"] = (
            med("write", "python_workers"), "count")
        vals.update(self.codec_layer())
        vals["pruning.groups_per_lookup"] = (med("lookup", "groups"), "count")
        vals["pruning.groups_total"] = (self.groups_total(), "count")
        reads = t["scan"] + t["lookup"]
        vals["manifest.resolve_s"] = (
            median([r["resolve"] for r in reads]), "s")
        vals["manifest.jobs_per_write"] = (med("write", "jobs"), "count")
        vals["manifest.jobs_per_scan"] = (med("scan", "jobs"), "count")
        vals["manifest.jobs_per_lookup"] = (med("lookup", "jobs"), "count")
        vals["manifest.store_files"] = (
            du(self.stores[-1], skip_hidden=False)[1] if self.stores else 0,
            "count")
        return {k: {"value": float(v), "unit": u}
                for k, (v, u) in sorted(vals.items())}

    def groups_total(self) -> int:
        if not self.stores:
            return 0
        from osm_pbf_parquet_spark.plans.manifest import read_chunks

        return read_chunks(self.spark, self.stores[-1]).select(
            *GROUP_KEYS).distinct().count()

    def arrow_table(self):
        """The workload's own input as one Arrow table, decoded by the
        engine's own source readers (in-process, no Spark)."""
        if self.name == "osm_transcode":
            import pyarrow as pa

            from osm_pbf_parquet_spark.sources.pbf import (
                decode_osm_blob, scan_osm_blobs)

            path = self.fx["input"]
            return pa.concat_tables(
                [decode_osm_blob(path, o, n) for o, n in scan_osm_blobs(path)])
        import pyarrow.parquet as pq

        return pq.read_table(self.fx["input"])

    def codec_layer(self) -> dict:
        """Single-thread codec speeds on chunk-sized slices of this
        workload's columns (every applicable codec forced on every
        column), selector cost per cell, and the stored ratio per column
        and codec-choice histogram read from the written store's chunk
        metadata. A codec that no column of the workload can take
        reports 0."""
        from pyspark.sql import functions as F

        from osm_pbf_parquet_spark.functions.codecs import (
            choose_codec, classify, codecs_for, decode_array, encode_array)

        tbl = self.arrow_table()
        enc = {c: [0, 0.0] for c in CODECS}
        dec = {c: [0, 0.0] for c in CODECS}
        select_s = []
        with self.tracer.span("codecs.microbench", "codecs"):
            for name in tbl.column_names:
                arr = tbl.column(name).combine_chunks()
                if arr.nbytes > SLICE_BYTES:
                    arr = arr.slice(
                        0, max(1, len(arr) * SLICE_BYTES // arr.nbytes))
                kind = classify(arr.type)
                t0 = time.perf_counter()
                choose_codec(arr, kind)
                select_s.append(time.perf_counter() - t0)
                for codec in codecs_for(kind):
                    self.attempted += 1
                    try:
                        t0 = time.perf_counter()
                        c, p, payload = encode_array(arr, codec)
                        t1 = time.perf_counter()
                        back = decode_array(c, p, payload)
                        t2 = time.perf_counter()
                    except Exception as e:  # noqa: BLE001
                        self.failed += 1
                        self.errors.append(f"codec {codec} on {name}: {e}")
                        continue
                    if not back.equals(arr):
                        self.failed += 1
                        self.errors.append(f"codec {codec} on {name}: "
                                           "round trip differs")
                        continue
                    enc[codec][0] += arr.nbytes
                    enc[codec][1] += t1 - t0
                    dec[codec][0] += arr.nbytes
                    dec[codec][1] += t2 - t1
        vals = {}
        for c in CODECS:
            for label, acc in (("encode", enc), ("decode", dec)):
                b, s = acc[c]
                vals[f"codecs.{label}_mb_per_s.{c}"] = (
                    b / s / 1e6 if s else 0.0, "MB/s")
        vals["codecs.select_ms_per_cell"] = (
            1e3 * sum(select_s) / max(1, len(select_s)), "ms")
        ratio = {c: 0.0 for c in PAGES_COLUMNS + OSM_COLUMNS}
        cells = {c: 0 for c in CODECS}
        if self.stores:
            from osm_pbf_parquet_spark.plans.manifest import read_chunks

            meta = read_chunks(self.spark, self.stores[-1],
                               columns=["column", "codec", "bytes_in",
                                        "bytes_out"])
            for r in meta.groupBy("column").agg(
                    F.sum("bytes_in").alias("i"),
                    F.sum("bytes_out").alias("o")).collect():
                ratio[r["column"]] = r["o"] / max(1, r["i"])
            for r in meta.groupBy("codec").count().collect():
                cells[r["codec"]] = r["count"]
        for c, v in ratio.items():
            vals[f"codecs.ratio.{c}"] = (v, "ratio")
        for c, v in cells.items():
            vals[f"codecs.cells.{c}"] = (v, "count")
        return vals

    def overhead(self) -> dict:
        """Traced minus untraced wall per operation kind (medians)."""
        out = {}
        for kind, recs in self.traced.items():
            u = median(self.walls[kind])
            tr = median([r["wall"] for r in recs])
            if recs and self.walls[kind]:
                out[kind] = {"untraced_s": u, "traced_s": tr,
                             "overhead_s": tr - u,
                             "overhead_share": (tr - u) / u if u else 0.0}
        return out

    def write_trace(self, path: str, layers: dict):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({
                "workload": self.name, "seed": self.seed, "size": self.size,
                "cores": CORES, "spans": self.tracer.spans,
                "layers": layers, "overhead": self.overhead(),
                "traced_ops": self.traced, "walls": self.walls,
                "parquet_walls": self.base_walls, "errors": self.errors,
            }, f, indent=1, default=str)

    def close(self):
        self.sampler.stop()


def corrupt_copy(store: str, dest: str) -> str:
    """Copy a store and flip one byte in the middle of its largest
    chunk payload, rewriting that chunk file (and dropping its Hadoop
    .crc sidecar, so only the engine's own crc32 can notice)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.copytree(store, dest)
    cdir = os.path.join(dest, "chunks")
    path = max(
        (os.path.join(cdir, n) for n in os.listdir(cdir)
         if n.endswith(".parquet")),
        key=os.path.getsize)
    tbl = pq.read_table(path)
    payloads = tbl.column("payload").to_pylist()
    i = max(range(len(payloads)), key=lambda j: len(payloads[j]))
    b = bytearray(payloads[i])
    b[len(b) // 2] ^= 0xFF
    payloads[i] = bytes(b)
    idx = tbl.schema.get_field_index("payload")
    tbl = tbl.set_column(idx, tbl.schema.field(idx),
                         pa.array(payloads, type=pa.binary()))
    pq.write_table(tbl, path)
    crc = os.path.join(cdir, f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    return dest


#: the engine's mapInArrow kernel each operation is measured by (the
#: OSM source decode inside a write is a decode_fn too, and is left out)
_KERNEL = {"write": "encode_fn", "scan": "decode_fn", "lookup": "decode_fn"}

_OP_SPAN = {"write": "manifest.encode_job", "scan": "manifest.read_encoded",
            "lookup": "manifest.read_encoded"}


def parquet_rows(path: str) -> int:
    """Rows in the Parquet files of a directory, from their footers."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(os.path.join(path, n)).num_rows
               for n in os.listdir(path) if n.endswith(".parquet"))
