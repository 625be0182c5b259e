"""The benchmark's workloads: fixture generation, warm-up, the timed call
into the program, the traced variant of that call and, for images, the
checkpointed base build and delta rerun of the traced run.

Every fixture comes from the program's own seeded generators, so the same
seed gives the same input; the program only ever sees the generated files.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import time

import pandas as pd
from pyspark.sql import functions as F

from dupion_spark import queries as Q
from dupion_spark.config import DedupConfig
from dupion_spark.operators import connected_components as cc
from dupion_spark.operators import election, exact, lsh, verify
from dupion_spark.operators import features as features_op
from dupion_spark.pipeline import run_pipeline
from dupion_spark.sources import synth_spark
from dupion_spark.sources.synth_docs import generate_doc_fixture
from dupion_spark.streaming.dedup_stream import IMAGE_SCHEMA

from dedupbench import planted
from dedupbench.sparkmetrics import UNATTRIBUTED
from dedupbench.trace import patched

IMAGE_LAYERS = ("features", "exact", "lsh_bands", "lsh_pairs", "verify", "cc", "election")
DOC_LAYERS = ("doc_sig", "doc_pairs", "doc_verify_cc")
LAYERS = IMAGE_LAYERS + DOC_LAYERS

# Image fixtures are written with append_scaling_delta: the same rows as
# generate_scaling_fixture, in 4 part files instead of 64. At 1,000 images,
# 64 files hold ~16 rows each and the features stage measures per-task
# overhead instead of decode (LAYERS.md).
# img_cold holds the first IMG_ROWS rows of the sequence plus HUB_MEMBERS
# more mega-cluster members taken from the blocks after them. The
# mega-cluster then has more members than the pixel bucket cap
# (DedupConfig.max_band_bucket, 256), so the over-cap hub path of
# lsh.candidate_pairs runs in every call.
IMG_ROWS = 500
HUB_MEMBERS = 300
# The image warm-up runs on the first WARM_ROWS rows of the same sequence.
WARM_ROWS = 100
# The traced img_cold run also measures the checkpoint layer: a
# checkpointed build of the first RESUME_BASE rows, then a rerun with the
# same checkpoint dir after the next RESUME_DELTA rows are appended.
RESUME_BASE = 300
RESUME_DELTA = 30
# doc part files copied into the doc warm-up slice (the generator writes 64)
DOC_WARM_FILES = 4


def _append_image_rows(spark, path: str, ids: list[int], seed: int, cfg) -> None:
    """Append the given rows of the scaling generator's sequence, written
    as append_scaling_delta writes a contiguous range (which is all that
    function offers)."""
    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame([synth_spark._make_row(int(i), seed, cfg) for i in pdf["id"]])

    (
        spark.createDataFrame([(i,) for i in ids], "id long").repartition(4)
        .mapInPandas(gen, IMAGE_SCHEMA).write.mode("append")
        .option("parquet.enable.dictionary", "false")
        .option("parquet.page.size", str(256 * 1024))
        .option("parquet.page.size.row.check.min", "2")
        .option("parquet.page.size.row.check.max", "32")
        .parquet(path)
    )


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _warm_slice(src_dir: str, dst_dir: str, n_files: int) -> None:
    os.makedirs(dst_dir)
    for path in sorted(glob.glob(os.path.join(src_dir, "*.parquet")))[:n_files]:
        shutil.copy(path, dst_dir)


def _bytes_written_since(path: str, since: float) -> int:
    """Bytes in files under path modified at or after `since` (epoch s)."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(d, f))
            if st.st_mtime >= since:
                total += st.st_size
    return total


def _image_layer_wraps(tracer, after_verify):
    """Context managers that trace every image-pipeline layer."""
    return [
        tracer.wrap(features_op, "extract_features_from_files", "features"),
        tracer.wrap(features_op, "hashes_from_features", "exact"),
        tracer.wrap(exact, "exact_groups", "exact"),
        tracer.wrap(exact, "representatives", "exact"),
        tracer.wrap(features_op, "signatures_from_features", "lsh_bands"),
        tracer.wrap(lsh, "band_table", "lsh_bands"),
        tracer.wrap(lsh, "candidate_pairs", "lsh_pairs"),
        tracer.wrap(verify, "verified_edges_from_files", "verify", after=after_verify),
        tracer.wrap(cc, "connected_components", "cc"),
        tracer.wrap(cc, "attach_singletons", "cc"),
        tracer.wrap(cc, "expand_representatives", "cc"),
        tracer.wrap(election, "canonical_map", "election"),
        tracer.counter(cc, "_signature", "cc_signatures"),
    ]


class ImageCold:
    """First full build of an image+caption corpus, no checkpoint dir."""

    name = "img_cold"
    unit_rows = "images"
    one_core = True  # the traced run adds the taskset-pinned 1-core call
    # in the traced run checkpoint_base, a checkpointed pipeline build,
    # takes the place of the warm-up: the run must stay inside its budget
    traced_warmups = 0
    truth = staticmethod(planted.image_truth)
    layers = IMAGE_LAYERS
    primary = {
        "features": "extract_features_from_files",
        "exact": "exact_groups",
        "lsh_bands": "band_table",
        "lsh_pairs": "candidate_pairs",
        "verify": "verified_edges_from_files",
        "cc": "connected_components",
        "election": "canonical_map",
    }

    def __init__(self, workdir: str, seed: int):
        self.seed = seed
        self.path = os.path.join(workdir, "images")
        self.warm_path = os.path.join(workdir, "images_warm")
        self.resume_path = os.path.join(workdir, "images_resume")
        self.resume_ckpt = os.path.join(workdir, "ckpt")
        self.cfg = DedupConfig()

    def _write(self, spark, path: str, start: int, n_rows: int) -> None:
        synth_spark.append_scaling_delta(spark, path, start, n_rows, seed=self.seed, cfg=self.cfg)

    def generate(self, spark) -> None:
        self._write(spark, self.path, 0, IMG_ROWS)
        first_block = IMG_ROWS // 100
        hub = [100 * b + 4 for b in range(first_block, first_block + HUB_MEMBERS)]
        _append_image_rows(spark, self.path, hub, self.seed, self.cfg)
        self._write(spark, self.warm_path, 0, WARM_ROWS)

    def open(self, spark) -> int:
        return spark.read.parquet(self.path).count()

    def _pipeline(self, spark, source: str, checkpoint_dir: str | None = None):
        result = run_pipeline(
            spark, spark.read.parquet(source), self.cfg,
            source_path=source, checkpoint_dir=checkpoint_dir,
        )
        _noop(result.clusters)
        _noop(result.canonical)
        return result

    def warm_up(self, spark) -> None:
        self._pipeline(spark, self.warm_path)

    def call(self, spark):
        return self._pipeline(spark, self.path)

    def labels(self, result) -> dict:
        return {r["image_id"]: r["cluster_root"] for r in result.clusters.collect()}

    def traced_call(self, spark, tracer):
        def after_verify(edges):
            tracer.counts["verify_passed"] = edges.filter(F.col("passed")).count()

        with contextlib.ExitStack() as stack:
            for wrap in _image_layer_wraps(tracer, after_verify):
                stack.enter_context(wrap)
            with tracer.span("run", group=UNATTRIBUTED):
                result = self.call(spark)
        return result

    def extras(self, result, tracer) -> dict:
        """Ratios and counts from the traced call (see LAYERS.md)."""
        lineage = _lineage(result)
        rows, counts, m = tracer.rows, tracer.counts, result.metrics
        n_images = m["n_images"]
        reps = rows.get("signatures_from_features", 0)
        gather = m.get("gather") or {}
        return {
            "exact.prune_ratio": m["prune_ratio"],
            "exact.rep_ratio": _ratio(reps, n_images),
            "lsh_bands.rows_per_rep": _ratio(rows.get("band_table", 0), reps),
            "lsh_pairs.star_only_pairs": lineage.get(("pairs", "star_only_pairs"), 0),
            "verify.pass_ratio": _ratio(
                counts.get("verify_passed", 0), rows.get("verified_edges_from_files", 0)
            ),
            "verify.gather_read_ratio": _ratio(
                gather.get("bytes_read", 0), gather.get("bytes_total", 0)
            ),
            "verify.gather_fallback_rgs": gather.get("fallback_rgs", 0),
            "cc.iterations": max(counts.get("cc_signatures", 0) - 1, 0),
        }

    def checkpoint_base(self, spark) -> None:
        """First half of the checkpoint layer's daily-append use: a
        checkpointed build of a base corpus, made in the traced run's
        set-up."""
        self._write(spark, self.resume_path, 0, RESUME_BASE)
        self._pipeline(spark, self.resume_path, checkpoint_dir=self.resume_ckpt)

    def checkpoint_rerun(self, spark) -> tuple[object, int, dict]:
        """Second half: append the delta and rerun with the same checkpoint
        dir. Returns the rerun's result, its row count and the checkpoint
        metrics (LAYERS.md)."""
        self._write(spark, self.resume_path, RESUME_BASE, RESUME_DELTA)
        since = time.time()
        result = self._pipeline(spark, self.resume_path, checkpoint_dir=self.resume_ckpt)
        lineage = _lineage(result)
        reused = lineage.get(("verified_edges", "pairs_reused"), 0)
        verified = lineage.get(("verified_edges", "pairs_verified"), 0)
        n_images = result.metrics["n_images"]
        return result, RESUME_BASE + RESUME_DELTA, {
            "checkpoint.wall_s": sum(
                s["wall_ms"] for s in result.metrics["stages"].values()
            ) / 1e3,
            "checkpoint.write_mb": _bytes_written_since(self.resume_ckpt, since) / 1e6,
            "features.reused_ratio": _ratio(
                lineage.get(("features", "rows_reused"), 0), n_images
            ),
            "verify.pairs_reused_ratio": _ratio(reused, reused + verified),
        }


class DocCrowd:
    """All-JVM text path: MinHash LSH, Jaccard verify, CC over documents."""

    name = "doc_crowd"
    rows = 5000
    unit_rows = "docs"
    one_core = False
    traced_warmups = 1
    truth = staticmethod(planted.doc_truth)
    layers = DOC_LAYERS
    primary = {"doc_sig": "_minhash_sig", "doc_pairs": "_doc_pairs",
               "doc_verify_cc": "q_dedup_clusters_docs"}

    def __init__(self, workdir: str, seed: int):
        self.seed = seed
        self.dir = os.path.join(workdir, "docs")
        self.warm_dir = os.path.join(workdir, "docs_warm")

    def generate(self, spark) -> None:
        table = os.path.join(self.dir, "documents.parquet")
        generate_doc_fixture(spark, table, self.rows, seed=self.seed)
        _warm_slice(table, os.path.join(self.warm_dir, "documents.parquet"), DOC_WARM_FILES)

    def open(self, spark) -> int:
        return spark.read.parquet(os.path.join(self.dir, "documents.parquet")).count()

    @staticmethod
    def _query(spark, sf_dir: str):
        out = Q.q_dedup_clusters_docs(spark, sf_dir).localCheckpoint(eager=False)
        _noop(out)
        return out

    def warm_up(self, spark) -> None:
        self._query(spark, self.warm_dir)

    def call(self, spark):
        return self._query(spark, self.dir)

    def labels(self, result) -> dict:
        return {r["doc_id"]: r["cluster_id"] for r in result.collect()}

    def traced_call(self, spark, tracer):
        def count_edges(original):
            def counted(edges, *args, **kwargs):
                edges = edges.localCheckpoint(eager=True)
                tracer.counts["doc_edges"] = edges.count()
                return original(edges, *args, **kwargs)
            return counted

        wraps = [
            tracer.wrap(Q, "_minhash_sig", "doc_sig"),
            tracer.wrap(Q, "_doc_pairs", "doc_pairs"),
            patched(cc, "connected_components", count_edges(cc.connected_components)),
            tracer.counter(cc, "_signature", "cc_signatures"),
        ]
        with contextlib.ExitStack() as stack:
            for wrap in wraps:
                stack.enter_context(wrap)
            # the call runs inside doc_verify_cc: whatever doc_sig and
            # doc_pairs do not claim IS the rest of q_dedup_clusters_docs
            with tracer.span("doc_verify_cc", group="doc_verify_cc"):
                result = self.call(spark)
                tracer.rows["q_dedup_clusters_docs"] = result.count()
        return result

    def extras(self, result, tracer) -> dict:
        return {
            "cc.iterations": max(tracer.counts.get("cc_signatures", 0) - 1, 0),
            "doc_pairs.pass_ratio": _ratio(
                tracer.counts.get("doc_edges", 0), tracer.rows.get("_doc_pairs", 0)
            ),
        }

    def checkpoint_base(self, spark) -> None:
        """The doc path has no checkpoint layer."""

    def checkpoint_rerun(self, spark) -> None:
        return None


WORKLOADS = {w.name: w for w in (ImageCold, DocCrowd)}


def _lineage(result) -> dict:
    return {(r["stage"], r["part_key"]): r["rows_out"] for r in result.lineage.collect()}


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0
