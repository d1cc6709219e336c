"""Training-data curation pipeline driver — the composed, resumable
sibling of plans.pipeline for the data-curation operator family
(driver brief: these are first-class components, so they get the same
lineage / idempotent-resume / scaling plumbing as the KG pipeline):

    profile -> exact dedup -> minhash near-dup -> quality/lang filter
            [-> repetition filter] [-> mixture sample + training shuffle]

    spark-submit --py-files m2n.zip -m mongo2neo_spark.plans.curation \
        --input <documents parquet/iceberg> --out <dir> [--no-resume]

Stage shapes at 100 TB:

- **profile** (bucket-granular resume): one pass over the corpus, all
  JVM-side expressions except the Arrow-batched fingerprint; output
  REBALANCE-clustered by a stable doc_id bucket (AQE splits hot buckets
  / coalesces small ones), per-bucket lineage rides the write via
  ``observe()`` — zero extra scans.
- **exact** (global): one hash shuffle keyed (xxhash64(text), len, text)
  — the text stays in the grouping key as the collision verify
  (operators.dedup.exact_dedup).
- **neardup** (global): MinHash/LSH banding where the band stream is
  (id, band_key) only, JVM-side jaccard verify, min-id CC survivors.
- **filter** (global, trivially parallel): quality >= threshold AND
  allowed predicted language; pure codegen expressions.  With
  ``repetition_filter=True`` the Gopher-style repetition verdict
  (operators.text.repetition_profile, computed on the already-deduped
  survivors — a pure function of the text, so stage order cannot change
  the verdict) is applied in the same stage.
- **sample** (optional, ``mixture_rates``): deterministic md5-hash
  mixture sampling by predicted language (operators.sampling — a pure
  narrow filter) followed by the training-order shuffle: rows are
  range-repartitioned and sorted by the hash key, so a reader consuming
  the output files in name order sees the global deterministic shuffle
  order without any single-partition sort.

Each stage records lineage and is skipped on resume when its lineage
rows exist; re-running a completed pipeline is a no-op (tested).
"""

from __future__ import annotations

import argparse
import uuid
from dataclasses import dataclass
from typing import Dict, Mapping, Optional, Tuple

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..functions import hashing
from ..operators import dedup as dedup_mod
from ..operators import sampling as sampling_mod
from ..operators import skew as skew_mod
from ..operators import text as text_mod
from ..sources import io as m2nio
from . import lineage as lin


@dataclass
class CurationConfig:
    n_buckets: int = 32            # profile lineage/resume granularity
    minhash_threshold: float = 0.5
    band_cap: int = hashing.BAND_CAP
    min_quality: float = 0.5
    langs: Tuple[str, ...] = ("en",)
    repetition_filter: bool = False    # apply the Gopher-style keep verdict
    mixture_rates: Optional[Mapping[str, float]] = None  # stage 5 when set
    sample_seed: int = 42
    run_id: str = ""

    def __post_init__(self):
        if not self.run_id:
            self.run_id = uuid.uuid4().hex[:12]


def run_curation(
    spark: SparkSession,
    input_source: str,
    out_dir: str,
    cfg: Optional[CurationConfig] = None,
    resume: bool = True,
) -> Dict[str, str]:
    cfg = cfg or CurationConfig()
    paths = {
        "profiled": f"{out_dir}/profiled",
        "exact": f"{out_dir}/exact",
        "neardup": f"{out_dir}/neardup",
        "curated": f"{out_dir}/curated",
        "lineage": lin.lineage_path(out_dir),
    }
    if cfg.mixture_rates is not None:
        paths["sampled"] = f"{out_dir}/sampled"
    _stage_profile(spark, input_source, out_dir, paths, cfg, resume)
    _stage_exact(spark, out_dir, paths, cfg, resume)
    _stage_neardup(spark, out_dir, paths, cfg, resume)
    _stage_filter(spark, out_dir, paths, cfg, resume)
    if cfg.mixture_rates is not None:
        _stage_sample(spark, out_dir, paths, cfg, resume)
    return paths


# ---------------------------------------------------------------------------
# stage 1: text profile (bucket-granular resume)
# ---------------------------------------------------------------------------
def _stage_profile(spark, input_source, out_dir, paths, cfg, resume) -> None:
    stage = "profile"
    done = set(lin.completed_keys(spark, out_dir, stage)) if resume else set()
    all_buckets = {str(b) for b in range(cfg.n_buckets)}
    todo = sorted(all_buckets - done, key=int)
    if not todo:
        return
    todo_ints = [int(b) for b in todo]

    with lin.StageTimer() as t:
        docs = m2nio.read_table(spark, input_source).filter(
            F.col("doc_id").isNotNull() & F.col("text").isNotNull()
        )
        docs = docs.withColumn(
            "bucket", skew_mod.bucket_of(F.col("doc_id"), cfg.n_buckets)
        )
        if len(todo) < cfg.n_buckets:
            docs = docs.filter(F.col("bucket").isin(todo_ints))
        prof = text_mod.text_profile(docs)
        # NARROW write-clustering exchange (profile columns are tiny next
        # to the text); REBALANCE so AQE right-sizes output files and
        # splits a hot bucket across write tasks
        prof = prof.hint("rebalance", "bucket")
        obs, prof = lin.observe_bucket_metrics(
            prof, todo_ints, ["doc_id", "bucket"]
        )
        m2nio.write_table(
            prof, paths["profiled"], partition_by=["bucket"],
            options={"parquet.block.size": m2nio.INTERMEDIATE_ROW_GROUP_BYTES},
        )
    got = obs.get
    entries = [
        (b, 0, int(got.get(f"n_{b}") or 0), got.get(f"c_{b}"), t.wall_ms)
        for b in todo
    ]
    lin.record(spark, out_dir, stage, entries, cfg.run_id)


# ---------------------------------------------------------------------------
# stages 2-4: global stages (whole-stage lineage, resume = skip)
# ---------------------------------------------------------------------------
def _global_stage(spark, out_dir, paths, cfg, resume, stage, produce,
                  partition_by=("bucket",)) -> None:
    """Shared shape: read -> transform -> observed write -> lineage row.

    ``produce`` returns (df, n_in); the drop audit (n_in minus the
    written count, collected by ``observe()`` as a side effect of the
    write — no second execution of the transform) lands in the lineage
    entry's input_rows slot, so shrinkage is never silent.  ``n_in`` is
    a parquet-metadata count of the previous stage's table — cheap."""
    if resume and lin.completed_keys(spark, out_dir, stage):
        return
    with lin.StageTimer() as t:
        df, n_in = produce()
        obs, df = lin.observe_table_metrics(df)
        m2nio.write_table(
            df, paths[_STAGE_OUT[stage]], partition_by=list(partition_by),
            options={"parquet.block.size": m2nio.INTERMEDIATE_ROW_GROUP_BYTES},
        )
    got = obs.get
    dropped = n_in - int(got["n"])
    lin.record(
        spark, out_dir, stage,
        [(lin.STAGE_KEY, int(dropped), int(got["n"]), got["c"], t.wall_ms)],
        cfg.run_id,
    )


_STAGE_OUT = {"exact": "exact", "neardup": "neardup", "filter": "curated",
              "sample": "sampled"}


def _stage_exact(spark, out_dir, paths, cfg, resume) -> None:
    def produce():
        prof = spark.read.parquet(paths["profiled"])
        return dedup_mod.exact_dedup(prof, "text", "doc_id"), prof.count()

    _global_stage(spark, out_dir, paths, cfg, resume, "exact", produce)


def _stage_neardup(spark, out_dir, paths, cfg, resume) -> None:
    def produce():
        ex = spark.read.parquet(paths["exact"])
        comp = dedup_mod.minhash_dedup_components(
            ex, "text", "doc_id",
            threshold=cfg.minhash_threshold, band_cap=cfg.band_cap,
        )
        survivors = comp.groupBy("component").agg(
            F.min("id").alias("doc_id")
        )
        kept = ex.join(survivors.select("doc_id"), "doc_id", "left_semi")
        return kept, ex.count()

    _global_stage(spark, out_dir, paths, cfg, resume, "neardup", produce)


def _stage_filter(spark, out_dir, paths, cfg, resume) -> None:
    def produce():
        nd = spark.read.parquet(paths["neardup"])
        kept = nd.filter(
            (F.col("quality") >= cfg.min_quality)
            & F.col("pred_lang").isin(list(cfg.langs))
        )
        if cfg.repetition_filter:
            # the verdict is a pure function of the text, so computing it
            # on the already-deduped/filtered survivors (the smallest
            # possible input) gives the same answer as on the raw corpus
            rep_keep = text_mod.repetition_profile(kept).filter(
                "keep"
            ).select("doc_id")
            kept = kept.join(rep_keep, "doc_id", "left_semi")
        return kept, nd.count()

    _global_stage(spark, out_dir, paths, cfg, resume, "filter", produce)


def _stage_sample(spark, out_dir, paths, cfg, resume) -> None:
    def produce():
        cur = spark.read.parquet(paths["curated"])
        kept = sampling_mod.mixture_sample(
            cur, cfg.mixture_rates, domain_col="pred_lang",
            id_col="doc_id", seed=cfg.sample_seed,
        )
        key = F.md5(F.concat_ws(
            ":", F.lit(str(cfg.sample_seed)), F.col("doc_id").cast("string")
        ))
        # training-order shuffle without a single-partition sort: range
        # partitioning on the hash key + in-partition sort means reading
        # the output part files in name order replays the exact global
        # deterministic order of sampling.deterministic_shuffle
        kept = (
            kept.withColumn("shuffle_key", key)
            .repartitionByRange("shuffle_key")
            .sortWithinPartitions("shuffle_key", "doc_id")
        )
        return kept, cur.count()

    _global_stage(spark, out_dir, paths, cfg, resume, "sample", produce,
                  partition_by=())


def main(argv=None) -> None:
    from ..session import get_spark

    ap = argparse.ArgumentParser(description="document curation pipeline")
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--master", default=None)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--min-quality", type=float, default=0.5)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--repetition-filter", action="store_true",
                    help="apply the Gopher-style repetition keep verdict")
    ap.add_argument("--mixture", default=None,
                    help="lang=rate[,lang=rate...] deterministic mixture "
                         "sample + training-order shuffle stage")
    ap.add_argument("--sample-seed", type=int, default=42)
    args = ap.parse_args(argv)
    spark = get_spark(
        master=args.master, shuffle_partitions=args.shuffle_partitions
    )
    rates = None
    if args.mixture:
        rates = {
            k: float(v)
            for k, v in (kv.split("=") for kv in args.mixture.split(","))
        }
    cfg = CurationConfig(
        n_buckets=args.buckets, min_quality=args.min_quality,
        repetition_filter=args.repetition_filter,
        mixture_rates=rates, sample_seed=args.sample_seed,
    )
    paths = run_curation(
        spark, args.input, args.out, cfg, resume=not args.no_resume
    )
    n = spark.read.parquet(paths["curated"]).count()
    print(f"curation complete: {n} curated docs -> {args.out}")


if __name__ == "__main__":
    main()
