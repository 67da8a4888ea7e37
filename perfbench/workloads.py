"""The benchmark workloads.

A workload makes its seeded inputs, computes the expected answers,
registers the inputs with a session and then yields passes of ops; the
harness (run.py) times the ops in a closed loop with one client. Each op
returns whether its output matched the expected answer. In the traced
run, an op that is traced also leaves an ``OpRecord`` with the plan and
task numbers the per-layer metrics are made from.
"""

from __future__ import annotations

import itertools
import os
import shutil
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from changesetmd_spark import entry_queries as EQ
from changesetmd_spark.functions import geo, s2
from changesetmd_spark.operators import spatial_join as sj
from changesetmd_spark.sources.replication import FileReplicationSource, replicate
from changesetmd_spark.sources.snapstore import SnapStore
from changesetmd_spark.sources.xml_ingest import parse_changesets, read_changesets_xml
from changesetmd_spark.telemetry import CandidateTelemetry
from perfbench import checks, inputs, trace


@dataclass
class Op:
    name: str
    kind: str  # "read" or "write"
    rows: int  # input rows the op completes: images, documents or changesets
    run: Callable[[], bool]


@dataclass
class OpRecord:
    """What one traced op executed: the final plans of the DataFrames it
    collected, their planning time and counts the op saw."""
    op: str
    nodes: list[trace.PlanNode] = field(default_factory=list)
    plan_s: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)


class Workload:
    name = ""
    why = ""
    PASS_S = 1.0  # nominal warm-pass seconds; --seconds / PASS_S passes run

    def __init__(self, spark_factory, cache: str, work: str, seed: int, tracer: trace.Tracer):
        self.spark_factory = spark_factory
        self.cache, self.work, self.seed, self.tracer = cache, work, seed, tracer
        self.spark = None
        self.records: list[OpRecord] = []

    def generate(self) -> None:
        raise NotImplementedError

    def expect(self) -> None:
        raise NotImplementedError

    def register(self) -> None:
        """Build the session and register the inputs (timed as set-up)."""
        self.spark = self.spark_factory()

    def passes(self) -> Iterator[list[Op]]:
        raise NotImplementedError

    def final_checks(self) -> list[bool]:
        return []

    def extra_metrics(self) -> dict[str, tuple[float, str]]:
        return {}

    # -- traced-op helpers ------------------------------------------------

    @contextmanager
    def tracing_work(self):
        """Work only the traced run adds (prefix actions, a re-parse): it
        runs under its own job group and inside a ``tracing`` span, so the
        op's task numbers and wall time hold only the op's own work."""
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{self.tracer.op}.tracing", "tracing")
        try:
            with self.tracer.span("tracing"):
                yield
        finally:
            sc.setJobGroup(self.tracer.op, self.tracer.op)

    def record(self, df) -> OpRecord | None:
        """After an action on ``df``, keep its final plan if traced."""
        if not self.tracer.active:
            return None
        rec = OpRecord(self.tracer.op or "")
        rec.nodes = trace.plan_nodes(df)
        rec.plan_s = trace.planning_seconds(df)
        self.records.append(rec)
        return rec


class TilePipeline(Workload):
    name = "tile_pipeline"
    why = ("Per-row layers (geotag, hex encode, cover-join probe, S2 Arrow encode, "
           "rollup) do almost all the work; driver planning is negligible.")
    N_IMAGES = 500_000
    N_CUSTOMERS = 15_000  # the sf0.1 customer count
    RES = 3  # the headline's cover resolution
    # a warm pass takes about 6 s on four cores; a 5 s run still makes two,
    # because one pass alone spread by up to 0.24 over ten seeds
    PASS_S = 2.5

    def generate(self):
        self.dir = inputs.tile_inputs(self.cache, self.seed, self.N_IMAGES, self.N_CUSTOMERS)

    def expect(self):
        self.expected = checks.tile_expected(self.dir)

    def register(self):
        super().register()
        self.images_path = f"{self.dir}/images.parquet"
        self.customer_path = f"{self.dir}/customer.parquet"
        self.spark.read.parquet(self.images_path).schema  # noqa: B018 — registers the files

    def stages(self):
        """The headline job, plus the prefixes the traced run times:
        scan; geotag + hex encode; cover join; S2 encode; tile + rollup."""
        images = self.spark.read.parquet(self.images_path)
        boxes = EQ.boxes_from_customer(self.spark.read.parquet(self.customer_path))
        slim = images.select(
            geo.clamp_lat(geo.phash_to_lat(F.col("phash"))).alias("lat"),
            geo.phash_to_lon(F.col("phash")).alias("lon"),
        )
        joined = sj.contains_join(slim, boxes, res=self.RES, broadcast_boxes=True,
                                  compact_build=True)
        with_s2 = joined.withColumn("s2_cell", s2.s2_cell(F.col("lat"), F.col("lon"), 12))
        tiled = with_s2.withColumn(
            "tile", geo.tile_id(geo.tile_x(F.col("lon"), 12), geo.tile_y(F.col("lat"), 12), 12))
        out = tiled.groupBy("box_id").agg(
            F.count("*").alias("n_images"),
            F.approx_count_distinct("tile").alias("n_tiles"),
            F.approx_count_distinct("s2_cell").alias("n_s2"),
        )
        prefixes = [
            ("scan", images.select("phash")),
            ("geotag_hex", sj.tile_points(slim, res=self.RES)),
            ("cover_join", joined),
            ("s2_encode", with_s2),
            ("rollup", out),
        ]
        return prefixes, out

    def headline(self) -> bool:
        if self.tracer.active:
            with self.tracing_work():
                for name, df in self.stages()[0]:
                    with self.tracer.span(f"prefix.{name}"):
                        df.write.format("noop").mode("overwrite").save()
        out = self.stages()[1]
        result = out.toPandas()
        self.record(out)
        return checks.tile_ok(result, self.expected)

    def passes(self):
        while True:
            yield [Op("headline", "read", self.N_IMAGES, self.headline)]


class NeardupDedup(Workload):
    name = "neardup_dedup"
    why = ("Shuffle, self-join and Arrow-heavy dedup that never touches the cover join: "
           "spatial gains read flat here, LSH changes show only here.")
    GATES = ["exact_dedup", "phash_neardup", "simhash", "minhash_lsh", "ngram_jaccard",
             "embed_neardup"]
    # LSH gates whose candidate pairs CandidateTelemetry counts, by family
    FAMILIES = {"phash_neardup": "phash", "simhash": "simhash", "minhash_lsh": "minhash",
                "embed_neardup": "embed"}
    # half the sf0.1 documents and orders: large enough that the
    # candidate and self-join work of the document gates is a real share
    # of their time, small enough that a run fits the benchmark's time
    # budget. 500 vectors (the sf0.01 count): the embedding oracle is
    # quadratic, and the embed gate's time is overhead at any size here
    N_DOCS, N_ORDERS, N_VECTORS = 2500, 75_000, 500
    # measured on the sf0.1 documents: 250 of 5000 are an earlier
    # document with " dup" appended, 8 repeat an earlier text verbatim
    NEAR_RATE, EXACT_RATE = 0.05, 0.0016
    PASS_S = 12.0

    def generate(self):
        self.dir = inputs.neardup_inputs(self.cache, self.seed, self.N_DOCS, self.N_ORDERS,
                                         self.N_VECTORS, self.NEAR_RATE, self.EXACT_RATE)

    def expect(self):
        self.expected = {g: checks.gate_expected(self.dir, g) for g in self.GATES}

    def rows(self, gate: str) -> int:
        if gate == "phash_neardup":
            return self.N_ORDERS
        if gate == "embed_neardup":
            return self.N_VECTORS + min(self.N_VECTORS, 50)  # the gate plants 50 copies
        return self.N_DOCS

    def gate(self, name: str) -> Callable[[], bool]:
        def run() -> bool:
            tel = None
            if self.tracer.active and name in self.FAMILIES:
                tel = EQ.ACTIVE_TELEMETRY = CandidateTelemetry()
            try:
                df = EQ.QUERIES[name](self.spark, self.dir)
            finally:
                EQ.ACTIVE_TELEMETRY = None
            result = df.toPandas()
            rec = self.record(df)
            if rec is not None and tel is not None:
                fam = self.FAMILIES[name]
                rec.counts[f"dedup.candidates.{fam}"] = sum(tel.counts().values())
                rec.counts[f"dedup.pairs.{fam}"] = len(result)
            return checks.frames_equal(result, self.expected[name])

        return run

    def passes(self):
        ops = [Op(g, "read", self.rows(g), self.gate(g)) for g in self.GATES]
        while True:
            yield ops


class ReplicationIngest(Workload):
    name = "replication_ingest"
    why = ("The only write path: diff publish, XML parse, merge-on-read SnapStore upserts "
           "and auto-compaction, then a read-after-write query on the merged state.")
    N_BASE = 20_000
    DIFF_SIZE = 500
    # compact every 3 keyed deltas (the default is 16) so that the cold
    # pass and two warm passes hold one whole compaction cycle; it lands
    # in the second warm pass, which the traced run traces
    COMPACT_EVERY = 3
    PASS_S = 2.5

    def generate(self):
        self.dir = inputs.replication_base(self.cache, self.seed, self.N_BASE)

    def expect(self):
        base = pq.read_table(f"{self.dir}/changesets.parquet", columns=["id", "num_changes"])
        self.state = dict(zip(base["id"].to_pylist(), base["num_changes"].to_pylist()))
        self.applied: list = []
        self.xml_bytes = 0

    def register(self):
        super().register()
        shutil.rmtree(self.work, ignore_errors=True)
        self.repl = os.path.join(self.work, "replication")
        self.store_root = os.path.join(self.work, "store")
        os.makedirs(self.repl)
        spark = self.spark
        self.cs = SnapStore(spark, f"{self.store_root}/changesets", "id",
                            auto_compact_every=self.COMPACT_EVERY)
        self.cm = SnapStore(spark, f"{self.store_root}/comments", "comment_changeset_id",
                            auto_compact_every=self.COMPACT_EVERY)
        self.cs.create(spark.read.parquet(f"{self.dir}/changesets.parquet"))
        self.cm.create(spark.read.parquet(f"{self.dir}/comments.parquet"))
        self.source = FileReplicationSource(spark, f"file://{self.repl}")
        t = self.tracer
        for store in (self.cs, self.cm):
            for m in ("merge", "delete_keys", "append", "compact"):
                t.wrap(store, m, f"snapstore.{m}")
        for m in ("fetch", "comments_for"):
            t.wrap(self.source, m, "replication.fetch")
        self.bytes_before = tree_bytes(self.store_root)

    def write(self, seq: int) -> Callable[[], bool]:
        """Publish diff ``seq`` and replicate it. The diff is rendered
        here, before the op is timed; publishing it is part of the op."""
        cs, cm = inputs.diff_tables(self.seed, seq, self.N_BASE, self.DIFF_SIZE)
        xml = inputs.diff_xml(cs, cm)

        def run() -> bool:
            self.xml_bytes += inputs.publish_diff(self.repl, seq, xml)
            self.applied.append((seq, cs, cm))
            self.state.update(zip(cs["id"].to_pylist(), cs["num_changes"].to_pylist()))
            if self.tracer.active:
                with self.tracing_work(), self.tracer.span("xml_ingest.parse"):
                    n = parse_changesets(read_changesets_xml(
                        self.spark, f"{self.repl}/{inputs.sequence_path(seq)}")).count()
                self.records.append(OpRecord(self.tracer.op or "", counts={"xml_ingest.rows": n}))
            with self.tracer.span("replication.replicate"):
                summary = replicate(self.cs, self.source, comments_store=self.cm)
            return summary["applied"] == 1 and self.cs.read_state()["last_sequence"] == seq

        return run

    def read(self) -> bool:
        """Read-after-write: changeset count and ``sum(num_changes)``."""
        with self.tracer.span("snapstore.read"):
            df = self.cs.read().agg(F.count("*").alias("n"), F.sum("num_changes").alias("s"))
            got = tuple(df.collect()[0])
        rec = self.record(df)
        if rec is not None:
            rec.counts["snapstore.deltas_per_read"] = deltas_since_compact(self.cs)
        return got == (len(self.state), sum(self.state.values()))

    def passes(self):
        for seq in itertools.count(1):
            yield [Op("replicate", "write", self.DIFF_SIZE, self.write(seq)),
                   Op("read_after_write", "read", 0, self.read)]

    def final_checks(self):
        want_cs, want_cm = checks.replication_expected(self.dir, self.applied)
        got_cs = checks.spark_changesets(self.cs.read()).toPandas()
        got_cm = checks.spark_comments(self.cm.read()).toPandas()
        last = self.applied[-1][0] if self.applied else -1
        return [
            checks.frames_equal(got_cs, want_cs),
            checks.frames_equal(got_cm, want_cm),
            self.cs.read_state()["last_sequence"] == last,
        ]

    def extra_metrics(self):
        written = tree_bytes(self.store_root) - self.bytes_before
        compact_dir = os.path.join(self.work, "compact_rewrite")
        self.cs.read().write.mode("overwrite").parquet(f"{compact_dir}/changesets")
        self.cm.read().write.mode("overwrite").parquet(f"{compact_dir}/comments")
        compact = tree_bytes(compact_dir)
        files = sum(s["n_files"] for st in (self.cs, self.cm) for s in st.snapshots()[1:])
        return {
            "write_amp": (written / max(self.xml_bytes, 1), "ratio"),
            "space_amp": (tree_bytes(self.store_root) / max(compact, 1), "ratio"),
            "snapstore.compactions": (sum(s["op"] == "compact" for st in (self.cs, self.cm)
                                          for s in st.snapshots()), "count"),
            "snapstore.files_written": (files, "count"),
            "snapstore.bytes_written": (written, "bytes"),
        }


def deltas_since_compact(store) -> int:
    """Keyed deltas (merge and delete snapshots) after the newest compact
    or create: the deltas a read merges, counted by the rule
    auto-compaction uses."""
    snaps = store.snapshots()
    last = max((i for i, s in enumerate(snaps) if s["op"] == "compact"), default=0)
    return sum(s["op"] in ("merge", "delete") for s in snaps[last + 1:])


def tree_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs)


WORKLOADS = {w.name: w for w in (TilePipeline, NeardupDedup, ReplicationIngest)}
