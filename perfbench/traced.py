"""Traced pipeline run: the steps of ``plans/pipeline.py`` re-sequenced in
benchmark code, with a span around each call into a layer's public
functions.

Every span ends at an action that forces that layer's output (a persist
plus a count, or the write itself), so Spark's laziness cannot move one
layer's cost into the next span. Each span tags its Spark jobs with its
own job group, which is how the status store's stage metrics are split
per layer. Counts the benchmark takes for itself run between spans,
under a separate job group, and are not part of any span.

The traced run writes the same tables as ``run_pipeline``; the caller
checks that its triples equal the untraced run's, which keeps this
re-sequencing from drifting away from ``pipeline.py``.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from typing import Dict, List

import pandas as pd
from pyspark.sql import functions as F

from mongo2neo_spark import oracle, rules
from mongo2neo_spark.functions import probe as probe_mod
from mongo2neo_spark.operators import cc as cc_mod
from mongo2neo_spark.operators import extract as extract_mod
from mongo2neo_spark.operators import ingest as ingest_mod
from mongo2neo_spark.operators import link as link_mod
from mongo2neo_spark.operators import materialize as mat_mod
from mongo2neo_spark.operators import skew as skew_mod
from mongo2neo_spark.plans import lineage as lin
from mongo2neo_spark.sources import io as m2nio

import probes

# layers that get the per-span Spark counters, in pipeline order
LAYERS = ("ingest", "extract", "probe", "link", "cc", "materialize", "io", "lineage")
STATS_GROUP = "bench-stats"


class Tracer:
    """In-memory spans; ``spans`` is written out when the benchmark ends."""

    def __init__(self, spark, store: probes.StatusStore, jvm_pid: int, trace_id: str):
        self.sc = spark.sparkContext
        self.store = store
        self.pid = jvm_pid
        self.trace_id = trace_id
        self.t0 = time.monotonic()
        self.spans: List[dict] = []

    @contextmanager
    def span(self, layer: str, op: str):
        group = f"{self.trace_id}:{len(self.spans)}:{layer}.{op}"
        self.sc.setJobGroup(group, f"{layer}.{op}")
        cpu0, steal0, t0 = probes.tree_cpu_s(self.pid), probes.host_steal_s(), time.monotonic()
        try:
            yield
        finally:
            t1, cpu1 = time.monotonic(), probes.tree_cpu_s(self.pid)
            steal = probes.host_steal_s() - steal0
            self.sc.setJobGroup(STATS_GROUP, "benchmark counts")
            self.spans.append(dict(
                trace_id=self.trace_id, name=f"{layer}.{op}", layer=layer,
                parent="pipeline", start_s=t0 - self.t0, end_s=t1 - self.t0,
                wall_s=t1 - t0, proc_cpu_s=cpu1 - cpu0, steal_s=steal, job_group=group,
            ))

    def collect_counters(self) -> None:
        """Attach the status store's stage metrics to every span."""
        for s in self.spans:
            s["spark"] = self.store.group_totals(s["job_group"])

    def layer_sum(self, layer: str, key: str = "wall_s", op: str | None = None) -> float:
        return sum(
            s[key] for s in self.spans
            if s["layer"] == layer and (op is None or s["name"] == f"{layer}.{op}")
        )

    def layer_spark(self, layer: str, key: str) -> float:
        return sum(s["spark"][key] for s in self.spans if s["layer"] == layer)


def _ck(checksum) -> str:
    return str(checksum) if checksum is not None else "0"


def traced_pipeline(spark, tr: Tracer, input_path: str, out_dir: str, cfg) -> Dict[str, float]:
    """Run the pipeline stage by stage under spans; returns the layer
    counts (the span timings stay in ``tr``). ``cfg.dedup_strategy`` must
    be the strategy the program's ``auto`` rule chose on this input: the
    traced run does not re-implement that rule, so its sampling job is not
    part of the ingest span."""
    assert cfg.dedup_strategy in ("adaptive", "shuffle"), cfg.dedup_strategy
    paths = {k: f"{out_dir}/{k}" for k in
             ("extracted", "components", "nodes", "edges", "triples")}
    c: Dict[str, float] = {}

    # ---- stage 1: ingest + extract -------------------------------------
    with tr.span("ingest", "clean_dedup"):
        raw = ingest_mod.clean(m2nio.read_transcripts(spark, input_path))
        if cfg.dedup_strategy == "adaptive":
            turns = ingest_mod.dedup_adaptive(raw)
        else:
            n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
            turns = ingest_mod.dedup(
                raw.repartition(n_part, F.col("conv_id"), F.col("turn_idx")))
        turns = turns.persist()
        c["ingest.rows_out"] = turns.count()
    c["ingest.rows_in"] = m2nio.read_transcripts(spark, input_path).count()
    c["ingest.dups_removed"] = raw.count() - c["ingest.rows_out"]

    with tr.span("extract", "extract"):
        ex = extract_mod.extract(turns).withColumn(
            "bucket", skew_mod.bucket_of(F.col("conv_id"), cfg.n_buckets)).persist()
        r = ex.agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.size("ex.m_norm")).alias("m"),
                   F.sum(F.size("ex.t_pred")).alias("t")).first()
    turns.unpersist()
    c["extract.turns"], c["extract.mentions"], c["extract.raw_triples"] = r.n, r.m or 0, r.t or 0

    buckets = list(range(cfg.n_buckets))
    with tr.span("io", "write_extracted"):
        obs, ex_w = lin.observe_bucket_metrics(
            ex.hint("rebalance", "bucket"), buckets, ["conv_id", "turn_idx", "bucket"])
        m2nio.write_table(
            ex_w, paths["extracted"], partition_by=["bucket"],
            options={"parquet.block.size": m2nio.INTERMEDIATE_ROW_GROUP_BYTES})
    ex.unpersist()
    wall_ms = int(1000 * sum(s["wall_s"] for s in tr.spans))
    got = obs.get
    with tr.span("lineage", "record"):
        lin.record(spark, out_dir, "extract",
                   [(str(b), 0, int(got.get(f"n_{b}") or 0), _ck(got.get(f"c_{b}")), wall_ms)
                    for b in buckets], cfg.run_id)

    # ---- stage 2: link + canonicalize ----------------------------------
    t_stage = tr.spans[-1]["end_s"]
    with tr.span("probe", "driver_probe"):
        ments = extract_mod.mentions(spark.read.parquet(paths["extracted"]))
        nid = ments.select("norm").distinct().withColumn("id", F.xxhash64("norm"))
        sample = probe_mod.driver_probe(nid, cfg.driver_link_max)
    c["probe.driver_venue"] = int(sample is not None)

    if sample is not None:
        with tr.span("link", "driver_link_components"):
            comp_rows, dropped = link_mod.driver_link_components(
                [(r.norm, r.id) for r in sample], cfg.band_cap, cfg.threshold)
        with tr.span("cc", "component_table"):
            comp = spark.createDataFrame(
                pd.DataFrame(comp_rows, columns=["norm", "entity_id"])).persist()
            comp.count()
        # the driver venue does not expose its pair counts: take them from
        # the oracle, which shares the banding and scoring rules
        norms = [r.norm for r in sample]
        cand = oracle.candidate_pairs(norms)
        c["link.norms"] = len(norms)
        c["link.candidate_pairs"] = len(cand)
        c["link.linked_pairs"] = sum(
            rules.pair_score(a, b) >= cfg.threshold for a, b in cand)
        c["cc.components"] = len({e for _, e in comp_rows})
        c["cc.driver_venue"] = 1
    else:
        with tr.span("link", "lsh_candidates"):
            bands = link_mod.lsh_bands(ments).persist()
            # threshold 0 keeps every scored candidate, so the useful
            # (linked) share can be counted; the linked subset is exactly
            # what the pipeline's thresholded pairs contain
            scored = link_mod.candidate_pairs_from_bands(bands, cfg.band_cap, 0.0).persist()
            c["link.candidate_pairs"] = scored.count()
            pairs = scored.filter(F.col("score") >= cfg.threshold)
            c["link.linked_pairs"] = pairs.count()
            dropped = link_mod.dropped_from_bands(bands, cfg.band_cap).count()
        c["link.norms"] = bands.select("norm").distinct().count()
        with tr.span("cc", "norm_components"):
            comp = mat_mod.norm_components(
                ments, pairs=pairs, norms=bands.select("norm").distinct()).persist()
            comp.count()
        c["cc.components"] = comp.select("entity_id").distinct().count()
        c["cc.driver_venue"] = int(c["link.linked_pairs"] <= cc_mod.DRIVER_CC_MAX_EDGES)
    c["link.dropped_bands"] = dropped
    c["link.useful_ratio"] = c["link.linked_pairs"] / max(1, c["link.candidate_pairs"])
    c["cc.edges"] = c["link.linked_pairs"]

    with tr.span("io", "write_components"):
        obs, comp_w = lin.observe_table_metrics(comp)
        m2nio.write_table(comp_w, paths["components"])
    comp.unpersist()
    if sample is None:
        scored.unpersist()
        bands.unpersist()
    wall_ms = int(1000 * (tr.spans[-1]["end_s"] - t_stage))
    with tr.span("lineage", "record"):
        g = obs.get
        lin.record(spark, out_dir, "components",
                   [(lin.STAGE_KEY, dropped, int(g["n"]), _ck(g["c"]), wall_ms)], cfg.run_id)

    # ---- stage 3: materialize ------------------------------------------
    t_stage = tr.spans[-1]["end_s"]
    with tr.span("materialize", "nodes_edges"):
        extracted = spark.read.parquet(paths["extracted"])
        stats = mat_mod.mention_stats(extract_mod.mentions(extracted)).persist()
        comp = spark.read.parquet(paths["components"])
        canon = mat_mod.canonical_names(components=comp, stats=stats)
        n2e = mat_mod.norm_to_entity(comp, canon).persist()
        n2e.count()
        nodes = mat_mod.nodes(stats=stats, n2e=n2e).persist()
        c["materialize.entities"] = nodes.count()
        edges = mat_mod.edges(
            mat_mod.resolve_triples(extract_mod.raw_triples(extracted), n2e=n2e),
            cfg.max_provenance).persist()
        c["materialize.edges"] = edges.count()
    with tr.span("io", "write_graph"):
        m2nio.write_table(nodes, paths["nodes"])
        m2nio.write_table(edges, paths["edges"])
        obs, triples_df = lin.observe_table_metrics(
            spark.read.parquet(paths["edges"]).select("subj", "pred", "obj"))
        m2nio.write_table(triples_df, paths["triples"])
    for df in (nodes, edges, n2e, stats):
        df.unpersist()
    c["materialize.triples"] = int(obs.get["n"])
    wall_ms = int(1000 * (tr.spans[-1]["end_s"] - t_stage))
    with tr.span("lineage", "record"):
        g = obs.get
        lin.record(spark, out_dir, "materialize",
                   [(lin.STAGE_KEY, 0, int(g["n"]), _ck(g["c"]), wall_ms)], cfg.run_id)

    with tr.span("lineage", "completed_keys"):
        for stage in ("extract", "components", "materialize"):
            lin.completed_keys(spark, out_dir, stage)

    files = [os.path.join(d, f) for d, _, fs in os.walk(out_dir) for f in fs
             if not f.startswith((".", "_")) and "lineage" not in d]
    c["io.files_written"] = len(files)
    c["io.bytes_written_mb"] = sum(os.path.getsize(f) for f in files) / probes.MB
    return c


def layer_metrics(tr: Tracer, counts: Dict[str, float], cores: int) -> Dict[str, float]:
    """Per-layer metric values (seconds, counts, MB) from the spans."""
    m = dict(counts)
    for layer in LAYERS:
        wall = tr.layer_sum(layer)
        run_s = tr.layer_spark(layer, "executor_run_s")
        m[f"{layer}.tasks"] = tr.layer_spark(layer, "tasks")
        m[f"{layer}.executor_run_s"] = run_s
        m[f"{layer}.executor_cpu_s"] = tr.layer_spark(layer, "executor_cpu_s")
        m[f"{layer}.gc_s"] = tr.layer_spark(layer, "gc_s")
        m[f"{layer}.idle_core_s"] = wall * cores - run_s
    for layer in ("ingest", "extract", "probe", "link", "cc", "materialize"):
        m[f"{layer}.s"] = tr.layer_sum(layer)
    m["extract.cpu_s"] = tr.layer_sum("extract", "proc_cpu_s")
    m["cc.jobs"] = tr.layer_spark("cc", "jobs")
    for layer in ("ingest", "link", "materialize"):
        m[f"{layer}.shuffle_write_mb"] = tr.layer_spark(layer, "shuffle_write_mb")
    for layer in ("link", "materialize"):
        m[f"{layer}.spill_mb"] = tr.layer_spark(layer, "spill_mb")
    m["io.write_s"] = tr.layer_sum("io")
    m["lineage.record_s"] = tr.layer_sum("lineage", op="record")
    m["lineage.completed_keys_s"] = tr.layer_sum("lineage", op="completed_keys")
    return m
