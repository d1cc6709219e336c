"""End-to-end pipeline driver (E1, SURVEY.md §3): the spark-submit entry
point that runs

    ingest → extract → link → canonicalize → materialize

with per-partition lineage, idempotent resume, and skew handling by
fine-grained keys and AQE rebalancing.

    spark-submit --py-files m2n.zip -m mongo2neo_spark.plans.pipeline \
        --input <transcripts parquet/iceberg> --out <dir> [--no-resume]

Each stage is a pure DataFrame function (operators/*); this module only
sequences them, writes their outputs via the IO abstraction, and records
lineage.  Re-running a completed pipeline is a no-op (lineage skip).
"""

from __future__ import annotations

import argparse
import uuid
from dataclasses import dataclass
from typing import Dict, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import rules, schemas
from ..functions import hashing
from ..functions import probe as probe_mod
from ..operators import extract as extract_mod
from ..operators import ingest as ingest_mod
from ..operators import link as link_mod
from ..operators import materialize as mat_mod
from ..operators import skew as skew_mod
from ..sources import io as m2nio
from . import lineage as lin


# Vocabularies (mention_stats rows, one per distinct norm) of up to this
# many rows are held on the driver whichever venue runs LSH: components,
# canonical names, the norm->entity map and nodes are then driver
# arithmetic (materialize.driver_graph_tables).  Above it the whole
# components/canonicalization chain runs as Spark jobs.  A design bound,
# not a measured capacity: the largest vocabulary a pipeline run held is
# ~1.5k norms (README "Scale design notes" has the driver-side figures).
DRIVER_VOCAB_MAX = 1_000_000


@dataclass
class PipelineConfig:
    n_buckets: int = 64          # extraction lineage/resume granularity
    band_cap: int = hashing.BAND_CAP
    threshold: float = rules.LINK_THRESHOLD
    max_provenance: int = mat_mod.MAX_PROVENANCE
    # P3 dedup: "adaptive" is the only strategy (ingest.dedup_adaptive).
    # The field stays until the benchmark's traced run stops passing it
    dedup_strategy: str = "adaptive"
    # LSH venue: vocabularies of up to this many mention_stats rows (one
    # per distinct norm) are banded, scored and union-found on the driver
    # (link.driver_link_components); above it the driver still bands and
    # groups them, and the pair scoring runs as one Spark job
    # (link.spark_link_components), which pays a job and a Python
    # worker's start; 0 forces the Spark venue.  Both run the same kernel.
    # Where the vocabulary itself lives is bounded by DRIVER_VOCAB_MAX,
    # not by this
    driver_link_max: int = 100_000
    run_id: str = ""

    def __post_init__(self):
        if self.dedup_strategy != "adaptive":
            raise ValueError(
                f"dedup_strategy {self.dedup_strategy!r}: only 'adaptive' exists")
        if not self.run_id:
            self.run_id = uuid.uuid4().hex[:12]


def run_pipeline(
    spark: SparkSession,
    input_source: str,
    out_dir: str,
    cfg: Optional[PipelineConfig] = None,
    resume: bool = True,
) -> Dict[str, str]:
    cfg = cfg or PipelineConfig()
    paths = {
        "extracted": f"{out_dir}/extracted",
        "components": f"{out_dir}/components",
        "nodes": f"{out_dir}/nodes",
        "edges": f"{out_dir}/edges",
        "triples": f"{out_dir}/triples",
        "lineage": lin.lineage_path(out_dir),
    }
    if not resume:
        # a fresh run starts over: no lineage record of an earlier run
        # survives it, and no extraction bucket that its own write does
        # not replace (an earlier run with more buckets)
        for path in (paths["lineage"], paths["extracted"]):
            jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
            jpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(jpath, True)
    _stage_extract(spark, input_source, out_dir, paths, cfg, resume)
    vocab = _stage_components(spark, out_dir, paths, cfg, resume)
    _stage_materialize(spark, out_dir, paths, cfg, resume, vocab)
    return paths


# ---------------------------------------------------------------------------
# stage 1: ingest + extract (bucket-granular resume)
# ---------------------------------------------------------------------------
def _stage_extract(spark, input_source, out_dir, paths, cfg, resume) -> None:
    stage = "extract"
    done = set(lin.completed_keys(spark, out_dir, stage)) if resume else set()
    all_buckets = {str(b) for b in range(cfg.n_buckets)}
    todo = sorted(all_buckets - done, key=int)
    if not todo:
        return
    todo_ints = [int(b) for b in todo]

    with lin.StageTimer() as t:
        raw = ingest_mod.clean(m2nio.read_transcripts(spark, input_source))
        if len(todo) < cfg.n_buckets:
            raw = raw.filter(
                skew_mod.bucket_of(F.col("conv_id"), cfg.n_buckets).isin(todo_ints)
            )
        # P3 dedup: a narrow column-pruned aggregate finds the (rare)
        # duplicated keys; the text stream is anti-joined against that
        # tiny set (AQE broadcast) and NEVER shuffles when duplicates are
        # absent — real transcripts are KBs/turn, and the dup-scan moves
        # only the ~30-byte keys.  (conv_id, turn_idx) is fine-grained, so
        # the duplicated subset's shuffle spreads a hot conversation
        # across partitions — the K1 salting effect without a dedicated
        # salt exchange.
        turns = ingest_mod.dedup_adaptive(raw)
        # ONE write of the combined extraction table (flat mention/triple
        # arrays, one row per turn); mentions/raw_triples are derived
        # columnar at read time by later stages.  One UDF pass + one
        # full-data write — cheaper than materializing (or caching) two
        # denormalized tables, at sandbox and at 100 TB alike.
        ex = extract_mod.extract(turns).withColumn(
            "bucket", skew_mod.bucket_of(F.col("conv_id"), cfg.n_buckets)
        )
        # write-clustering shuffle: NARROW — extraction output carries
        # mention/triple arrays, not the text, so this exchange is a
        # fraction of the input bytes.  REBALANCE (not repartition): the
        # work downstream of this exchange is byte-proportional (parquet
        # encoding + IO), exactly what AQE's byte-based sizing gets
        # right — it coalesces small buckets into few files at sandbox
        # scale AND splits a hot bucket across several write tasks at
        # 100 TB (the salt trick, done by the optimizer from runtime
        # sizes).  AQE coalesces a plain repartition-by-column but
        # never splits it.
        ex = ex.hint("rebalance", "bucket")
        # per-bucket lineage metrics ride the write job via observe() —
        # no second scan of the (largest) table just to count it.
        obs, ex = lin.observe_bucket_metrics(
            ex, todo_ints, ["conv_id", "turn_idx", "bucket"]
        )
        # dynamic partition overwrite = idempotent per-bucket replace (S2);
        # small row groups keep the table splittable for the three
        # downstream scans regardless of how few files AQE produces
        m2nio.write_table(
            ex, paths["extracted"], partition_by=["bucket"],
            options={"parquet.block.size": m2nio.INTERMEDIATE_ROW_GROUP_BYTES},
        )

    got = obs.get
    entries = [
        (b, 0, int(got.get(f"n_{b}") or 0), got.get(f"c_{b}"), t.wall_ms)
        for b in todo
    ]
    lin.record(spark, out_dir, stage, entries, cfg.run_id)


# ---------------------------------------------------------------------------
# stage 2: link + canonicalize (global stage)
# ---------------------------------------------------------------------------
def _read_extracted(spark, paths) -> DataFrame:
    # declared schema: no footer-inference job, and an extraction that
    # wrote no files (empty input) reads as an empty table
    return spark.read.schema(schemas.EXTRACTED).parquet(paths["extracted"])


def _stage_components(spark, out_dir, paths, cfg, resume):
    """Link + canonicalize.  Returns the in-memory vocabulary
    (mention_stats rows, component rows) for the materialize stage, or
    None when the stage was skipped or the vocabulary stayed on Spark.

    Two decisions, made apart:
    - where the vocabulary lives: one probe collects the mention_stats
      rollup if it has at most DRIVER_VOCAB_MAX rows; then the driver
      holds it whichever venue links, and materialize builds canonical
      names, the norm->entity map and nodes from it;
    - where pair scoring runs: up to ``cfg.driver_link_max`` norms on the
      driver (link.driver_link_components), above that as one Spark job
      over the driver-grouped band groups (link.spark_link_components),
      whose linked pairs go to a driver union-find only up to
      cc.DRIVER_CC_MAX_EDGES.
    A vocabulary above DRIVER_VOCAB_MAX, or more linked pairs than that,
    keeps the all-Spark path (norm_components, then canonicalization in
    materialize)."""
    stage = "components"
    if resume and lin.completed_keys(spark, out_dir, stage):
        return None
    vocab = None
    with lin.StageTimer() as t:
        ments = extract_mod.mentions(_read_extracted(spark, paths))
        # LIMIT max+1 over the vocabulary-sized mention_stats rollup (one
        # row per norm).  If it comes back short, the driver holds the
        # whole vocabulary with its counts and timestamps
        stats = probe_mod.driver_probe(
            mat_mod.mention_stats(ments).withColumn("id", F.xxhash64("norm")),
            DRIVER_VOCAB_MAX, as_pandas=True,
        )
        if stats is not None:
            norm_ids = zip(stats["norm"].tolist(), stats["id"].tolist())
            if 0 < cfg.driver_link_max and len(stats) <= cfg.driver_link_max:
                # banding, scoring and CC collapse to driver arithmetic
                # over the same shared hashing/rules functions
                linked = link_mod.driver_link_components(
                    norm_ids, cfg.band_cap, cfg.threshold
                )
            else:
                # None: more linked pairs than a driver union-find takes
                linked = link_mod.spark_link_components(
                    spark, norm_ids, cfg.band_cap, cfg.threshold
                )
                if linked is None:
                    stats = None
        if stats is not None:
            comp_rows, dropped = linked
            comp_pdf = pd.DataFrame(comp_rows, columns=["norm", "entity_id"])
            vocab = (stats, comp_pdf)
            comp = spark.createDataFrame(comp_pdf, schemas.COMPONENT_ROWS)
        else:
            # one LSH pass feeds both candidates and the drop audit
            bands = link_mod.lsh_bands(ments).persist()
            pairs = link_mod.candidate_pairs_from_bands(
                bands, cfg.band_cap, cfg.threshold
            )
            # vertex set from the persisted bands (every norm has >=1
            # band key), not a second scan of the extraction table
            comp = mat_mod.norm_components(
                ments, pairs=pairs, norms=bands.select("norm").distinct()
            ).to(schemas.COMPONENT_ROWS)
        # with the vocabulary on the driver this is written for resume
        # only: materialize takes comp_pdf from memory
        obs, comp = lin.observe_table_metrics(comp)
        m2nio.write_table(comp, paths["components"])
        if stats is None:
            dropped = link_mod.dropped_from_bands(bands, cfg.band_cap).count()
            bands.unpersist()
    got = obs.get
    lin.record(
        spark, out_dir, stage,
        [(lin.STAGE_KEY, dropped, int(got["n"]), got["c"], t.wall_ms)],
        cfg.run_id,
    )
    return vocab


# ---------------------------------------------------------------------------
# stage 3: materialize (global stage)
# ---------------------------------------------------------------------------
def _stage_materialize(spark, out_dir, paths, cfg, resume, vocab=None) -> None:
    """Nodes, edges and triples.  ``vocab`` is the components stage's
    driver-venue result; without it (distributed venue, or a resumed run
    whose components stage was already done) everything is read back."""
    stage = "materialize"
    if resume and lin.completed_keys(spark, out_dir, stage):
        return
    with lin.StageTimer() as t:
        extracted = _read_extracted(spark, paths)
        cached = []
        if vocab is not None:
            # driver venue: canonical names, the norm->entity map and the
            # node rows are driver arithmetic over the probed vocabulary;
            # both go to Spark as Arrow LocalTableScans (no job)
            n2e_pdf, nodes_pdf = mat_mod.driver_graph_tables(*vocab)
            n2e = spark.createDataFrame(n2e_pdf, schemas.NORM_TO_ENTITY)
            nodes = spark.createDataFrame(nodes_pdf, schemas.NODE_ROWS)
        else:
            # The (huge) mention stream is scanned ONCE, straight into the
            # vocabulary-sized mention_stats rollup; canonical naming, the
            # norm->entity map, and the node table all run on that tiny
            # persisted aggregate.  The triple stream is NOT persisted:
            # re-deriving it per consumer (column-pruned scan + broadcast
            # joins) is parallel CPU, while the columnar cache build is
            # measurably the opposite — A/B at 27M turns: edges+triples
            # take 24.7s at 4N with a MEMORY_AND_DISK persist vs 12.7s
            # recomputing (and 34.4 vs 29.7 at N).  Cache only what is
            # vocabulary-sized.
            stats = mat_mod.mention_stats(extract_mod.mentions(extracted)).persist()
            comp = spark.read.schema(schemas.COMPONENT_ROWS).parquet(
                paths["components"]
            )
            canon = mat_mod.canonical_names(components=comp, stats=stats)
            n2e = mat_mod.norm_to_entity(comp, canon).persist()
            n2e.count()  # materialize the (vocabulary-sized) map before reuse
            nodes = mat_mod.nodes(stats=stats, n2e=n2e)
            cached = [stats, n2e]

        m2nio.write_table(nodes, paths["nodes"])
        # the only distributed work left: the edge aggregation over the
        # triple stream, resolved through the broadcast norm->entity map
        edges = mat_mod.edges(
            mat_mod.resolve_triples(extract_mod.raw_triples(extracted), n2e=n2e),
            cfg.max_provenance,
        )
        m2nio.write_table(edges, paths["edges"])
        # the edges table already has EXACTLY one row per distinct
        # (subj, pred, obj) — the triples set is a projection of it, so
        # derive it from the (small) written edges table, read back with
        # the schema just written, instead of re-deriving + re-shuffling
        # the full resolved stream a second time for a distinct
        obs, triples_df = lin.observe_table_metrics(
            spark.read.schema(edges.schema).parquet(paths["edges"])
            .select("subj", "pred", "obj")
        )
        m2nio.write_table(triples_df, paths["triples"])
        for df in cached:
            df.unpersist()
    got = obs.get
    lin.record(
        spark, out_dir, stage,
        [(lin.STAGE_KEY, 0, int(got["n"]), got["c"], t.wall_ms)],
        cfg.run_id,
    )


def main(argv=None) -> None:
    from ..session import get_spark

    ap = argparse.ArgumentParser(description="transcript -> KG pipeline")
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--master", default=None)
    ap.add_argument("--buckets", type=int, default=PipelineConfig.n_buckets)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--no-resume", action="store_true")
    args = ap.parse_args(argv)
    spark = get_spark(
        master=args.master, shuffle_partitions=args.shuffle_partitions
    )
    cfg = PipelineConfig(n_buckets=args.buckets)
    run_pipeline(spark, args.input, args.out, cfg, resume=not args.no_resume)
    # the materialize record counts the triples table's rows as it was
    # written; reading it starts no Spark job
    n = [r for r in lin.read_records(spark, args.out)
         if r["stage"] == "materialize"][-1]["output_rows"]
    print(f"pipeline complete: {n} distinct triples -> {args.out}")


if __name__ == "__main__":
    main()
