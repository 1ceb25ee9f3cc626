"""The benchmark's workloads: inputs, one pass, and the output check.

Each workload's `prepare` writes its seeded inputs and fills the oracle
cache; the benchmark runs it in a child process (this module's main)
before the session starts, so neither its time nor its memory is in any metric. Then
`run_pass` executes one full pass of engine calls (each call inside a
tracer span named after the layer it enters) and returns the outputs;
`check` compares those outputs with the oracles and returns the list of
mismatches.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import shutil

from perfbench import inputs
from perfbench.oracles import Oracles, connect

# (query, layer): text-curation then vector-ANN queries, trimmed to what
# one benchmark run can afford next to its JVM start and cold pass
CURATE_QUERIES = (
    ("q11_lsh_jaccard", "operators.dedup"),
    ("q43_source_dup_rates", "operators.dedup"),
    ("q46_bm25_topk", "operators.rank"),
    ("q69_pagerank", "operators.graph"),
    ("q16_cosine_topk", "operators.similarity"),
    ("q36_ivf_ann", "operators.similarity"),
)
ALL_QUERIES = tuple(q for q, _ in CURATE_QUERIES)


def _digest(*paths: str) -> str:
    """Short content hash of input files: the oracle cache key."""
    h = hashlib.md5()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _epoch(day: str) -> int:
    return int(datetime.datetime.fromisoformat(day).replace(tzinfo=datetime.timezone.utc).timestamp())


class Workload:
    name = ""
    min_passes = 1  # timed passes per run, however short --seconds is

    def __init__(self, root: str, work: str, cache: str, seed: int, size: str):
        self.root, self.work, self.cache = root, work, cache
        self.seed, self.size = seed, size
        self.in_dir = os.path.join(work, "inputs")
        self.oracles: Oracles | None = None

    def inputs(self) -> list[str]:
        """The input files, whose digest keys the oracle cache."""
        raise NotImplementedError

    def open_oracles(self) -> Oracles:
        return Oracles(self.root, self.cache, f"{self.name}-{_digest(*self.inputs())}")

    def prepare(self) -> None:
        """Write the inputs and compute every oracle not yet cached."""
        raise NotImplementedError

    def run_pass(self, spark, tracer) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> list[str]:
        raise NotImplementedError

    def rows(self, out: dict) -> int:
        raise NotImplementedError

    def counts(self, out: dict) -> dict[str, float]:
        """Per-layer count metrics this workload measures."""
        return {}


class Curate(Workload):
    """`queries()` entries over the seeded replica tables, each collected
    and compared with its `oracle_sql()` twin."""

    name = "curate"
    queries = CURATE_QUERIES
    # ~11 s passes whose wall time moves with the VM's steal time: the
    # median of two halves the run-to-run spread a single pass shows
    min_passes = 2

    def inputs(self) -> list[str]:
        return [f"{self.in_dir}/{t}.parquet" for t in ("documents", "embeddings")]

    def prepare(self) -> None:
        limit = 120 if self.size == "tiny" else None
        inputs.replica_tables(self.in_dir, self.seed, "sf0.01", limit)
        # generated-literal oracles (q36's) read the tables directly
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = self.in_dir
        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        o = self.open_oracles()
        con = connect({t: f"{self.in_dir}/{t}.parquet" for t in ("documents", "embeddings")})
        for q, _ in self.queries:
            o.query(con, q, sql[q])
        con.close()
        o.save()

    def run_pass(self, spark, tracer) -> dict:
        import __spark_entry__ as entry
        from geotiff_tiler_spark.session import clear_persistent_rdds

        fns = entry.queries()
        out = {}
        for q, layer in self.queries:
            with tracer.span(layer, f"query.{q}"):
                df = fns[q](spark, self.in_dir)
                rows = df.collect()
                out[q] = (df.columns, dict(df.dtypes), rows)
            # localCheckpoint storage of this (materialized) result
            clear_persistent_rdds(spark)
        return out

    def check(self, out: dict) -> list[str]:
        bad = []
        for q, (cols, dtypes, rows) in out.items():
            why = self.oracles.mismatch(self.oracles.cache[q], cols, dtypes, rows)
            if why:
                bad.append(f"{q}: {why}")
        return bad

    def rows(self, out: dict) -> int:
        return sum(len(r) for _, _, r in out.values())

    def counts(self, out: dict) -> dict[str, float]:
        import __spark_entry__ as entry

        cols, _, rows = out["q11_lsh_jaccard"]
        j = cols.index("jaccard")
        kept = sum(1 for r in rows if r[j] >= entry.DUP_CLUSTER_THRESHOLD)
        return {"operators.dedup.pair_yield": kept / len(rows) if rows else 0.0}


class SpatialCommit(Workload):
    """Two chains in one session, so every tiling, join and commit layer
    runs on one workload.

    The spatial chain: extract -> validate/quarantine -> tiling ->
    point-in-box join -> exact dedup over the seeded pages table
    (scale_job's operator chain, SCALE_PARAMS, without its MinHash stage).
    Its counts are checked against DuckDB over the same parquet, reusing
    the contract oracle's tile CTEs.

    The commit chain: the flagship lifecycle with the contract's P over
    the seeded documents: create_tiles -> resume (a re-run that skips
    every committed tile through the manifest anti-join) -> manifest
    consistency report -> WebDataset export -> tar read-back, each pass
    into fresh output and manifest dirs. The committed per-image counts
    are checked against the q04 oracle and every counter must agree.
    tools/flagship_lifecycle.py also kills the first run after a fixed
    tile count; that extra create_tiles (~9 s warm, ~60 stages) does not
    fit the benchmark's time budget, so the kill is left out."""

    name = "spatial_commit"
    WDS_COLS = ["image_id", "tile_x", "tile_y", "split", "point_cnt", "nonzero_px"]
    SPATIAL_KEYS = ("quarantined", "tiles", "join_rows", "dedup_groups")

    def __init__(self, *a):
        super().__init__(*a)
        self.n_pages = 5_000 if self.size == "tiny" else 10_000
        self.n_bad = max(self.n_pages // 1000, 3)
        self.n_boxes = 20_000
        # full: the first 1000 shipped sf0.1 documents (80 tiles at seed 0)
        self.n_docs = None if self.size == "tiny" else 1000
        self.n_pass = 0

    def inputs(self) -> list[str]:
        return [f"{self.in_dir}/pages.parquet", f"{self.in_dir}/documents.parquet"]

    def prepare(self) -> None:
        pages_path, docs = self.inputs()
        inputs.replica_tables(self.in_dir, self.seed, "sf0.01" if self.size == "tiny" else "sf0.1", self.n_docs)
        inputs.write_pages(pages_path, self.n_pages, self.seed, self.n_bad)
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = self.in_dir
        import __spark_entry__ as entry
        from geotiff_tiler_spark.plans.scale_job import SCALE_PARAMS as SP
        from geotiff_tiler_spark.sources import checks, labels

        langs = ", ".join(f"'{x}'" for x in checks.KNOWN_LANGS)
        extracted = (
            "SELECT doc_id, regexp_extract(CAST(html AS VARCHAR), '<p>(.*?)</p>', 1) AS text,"
            f" lang, epoch(warc_ts) AS ts FROM '{pages_path}'"
        )
        bad = (
            f"text IS NULL OR length(trim(text)) = 0 OR lang NOT IN ({langs})"
            f" OR ts < {_epoch(checks.TS_MIN)} OR ts >= {_epoch(checks.TS_MAX)}"
        )
        con = connect(
            {
                "extracted": extracted,
                "documents": f"SELECT doc_id, text, lang FROM extracted WHERE NOT ({bad})",
                "supplier": f"SELECT range AS s_suppkey FROM range({self.n_boxes})",
            }
        )
        one = lambda sql: int(con.execute(sql).fetchone()[0])  # noqa: E731
        o = self.open_oracles()
        o.get("quarantined", lambda: one(f"SELECT count(*) FROM extracted WHERE {bad}"))
        o.get(
            "tiles",
            lambda: one(
                f"WITH {entry._pts_cte(SP)}, {entry._grid_cte(SP)}, {entry._stats_cte(SP)},"
                f" {entry._tiles_cte(SP)} SELECT count(*) FROM tiles WHERE {entry._keep_sql(SP)}"
            ),
        )
        o.get(
            "join_rows",
            lambda: one(
                f"WITH {entry._pts_cte(SP)}, boxes AS ({labels.label_boxes_sql()})"
                " SELECT count(*) FROM (SELECT DISTINCT p.doc_id, b.feature_id FROM pts p"
                " JOIN boxes b ON p.lon >= b.xmin AND p.lon < b.xmax"
                " AND p.lat >= b.ymin AND p.lat < b.ymax)"
            ),
        )
        o.get("dedup_groups", lambda: one("SELECT count(DISTINCT md5(text)) FROM documents"))
        con.close()

        con = connect({"documents": docs})

        def per_image():
            rows = con.execute(entry.oracle_sql()["q04_patch_filter"]).fetchall()
            return {str(img): int(kept) for img, kept, _ in rows if kept}

        o.get("kept_per_image", per_image)
        con.close()
        o.save()

    def run_pass(self, spark, tracer) -> dict:
        out = self._spatial(spark, tracer)
        out.update(self._commit(spark, tracer))
        return out

    def _spatial(self, spark, tracer) -> dict:
        from geotiff_tiler_spark.operators import dedup, spatial_join, tiling
        from geotiff_tiler_spark.plans.scale_job import SCALE_PARAMS as SP
        from geotiff_tiler_spark.sources import checks, labels, pages

        out = {}
        with tracer.span("sources", "sources.extract_validate"):
            pg = spark.read.parquet(self.inputs()[0])
            validated = checks.validate_pages(pg.withColumn("text", pages.extract_text("html")))
            valid, quarantine = checks.split_quarantine(validated)
            out["quarantined"] = quarantine.count()
            docs = valid.select("doc_id", "text", "lang").persist()
            docs.count()
        with tracer.span("operators.tiling", "tiling.kept_tiles"):
            pts = tiling.doc_points(docs, SP)
            split = tiling.assign_split(tiling.kept_tiles(pts, SP), SP, validation_cells=None)
            out["tiles"] = split.count()
        with tracer.span("operators.spatial_join", "spatial_join.point_in_box"):
            boxes = labels.label_boxes(spark.range(self.n_boxes).withColumnRenamed("id", "s_suppkey"))
            hits = spatial_join.point_in_box_join(pts.select("doc_id", "lon", "lat"), boxes, SP.image_res)
            out["join_rows"] = hits.count()
        with tracer.span("operators.dedup", "dedup.exact_groups"):
            out["dedup_groups"] = dedup.exact_dedup_groups(docs).count()
        docs.unpersist()
        return out

    def _commit(self, spark, tracer) -> dict:
        import __spark_entry__ as entry
        from pyspark.sql import functions as F

        from geotiff_tiler_spark.operators import tiling
        from geotiff_tiler_spark.plans import webdataset as wd
        from geotiff_tiler_spark.plans.manifest import Manifest
        from geotiff_tiler_spark.plans.pipeline import create_tiles

        self.n_pass += 1
        base = os.path.join(self.work, "commit", f"pass{self.n_pass}")
        shutil.rmtree(base, ignore_errors=True)
        out_dir, mf_dir, wds_dir = f"{base}/out", f"{base}/mf", f"{base}/wds"
        docs = spark.read.parquet(self.inputs()[1])
        P = entry.P
        with tracer.span("plans.pipeline", "pipeline.create_tiles"):
            first = create_tiles(spark, docs, P, out_dir, mf_dir)
        with tracer.span("plans.pipeline", "pipeline.create_tiles_resume"):
            resumed = create_tiles(spark, docs, P, out_dir, mf_dir)
        with tracer.span("plans.manifest", "manifest.consistency_report"):
            manifest = Manifest(spark, mf_dir)
            issues = manifest.consistency_report()
            patch_total = manifest.completed_patches().count()
            shard_records = int(
                manifest.read("shards").agg(F.sum("n_records")).collect()[0][0] or 0
            )
        with tracer.span("plans.webdataset", "webdataset.export"):
            tiles = spark.read.parquet(os.path.join(out_dir, "tiles"))
            samples = wd.metadata_json(tiling.patch_key(tiles), self.WDS_COLS)
            registry = wd.write_webdataset(
                samples, wds_dir, {"json": "metadata"}, max_count=500
            ).collect()
        with tracer.span("plans.webdataset", "webdataset.readback"):
            back = wd.read_webdataset(spark, wds_dir)
            readback_keys = back.select("key").distinct().count()
        # the committed per-image counts, read outside the timed calls
        per_image = {
            str(r[0]): int(r[1])
            for r in manifest.read("images")
            .filter(F.col("status") == "completed")
            .groupBy("image_id")
            .agg(F.sum("kept"))
            .collect()
        }
        return {
            "runs": [(r.kept, r.skipped_resume) for r in (first, resumed)],
            "issues": issues,
            "patch_total": patch_total,
            "shard_records": shard_records,
            "wds_samples": sum(r.n_samples for r in registry),
            "wds_bytes": sum(r.size_bytes for r in registry),
            "readback_keys": readback_keys,
            "per_image": per_image,
        }

    def check(self, out: dict) -> list[str]:
        want = self.oracles.cache
        bad = [f"{k}: {out[k]} != oracle {want[k]}" for k in self.SPATIAL_KEYS if out[k] != want[k]]
        (k1, s1), (k2, s2) = out["runs"]
        if s1 != 0 or k2 != 0 or s2 != k1:
            bad.append(f"commit/resume counters {out['runs']}")
        if out["issues"]:
            bad.append(f"consistency_report {out['issues']}")
        agree = {out["patch_total"], out["shard_records"], out["wds_samples"], out["readback_keys"], k1}
        if len(agree) != 1:
            bad.append(f"counters disagree {sorted(agree)}")
        if out["per_image"] != want["kept_per_image"]:
            diff = sorted(set(out["per_image"].items()) ^ set(want["kept_per_image"].items()))[:3]
            bad.append(f"per-image kept != q04 oracle, e.g. {diff}")
        return bad

    def rows(self, out: dict) -> int:
        return out["tiles"] + out["join_rows"] + out["patch_total"]

    def counts(self, out: dict) -> dict[str, float]:
        return {
            "operators.tiling.tiles": out["tiles"] + out["patch_total"],
            "operators.spatial_join.rows": out["join_rows"],
            "sources.quarantined": out["quarantined"],
            "plans.webdataset.bytes_per_tile": out["wds_bytes"] / max(out["wds_samples"], 1),
            "plans.pipeline.resume_skipped": out["runs"][-1][1],
        }


WORKLOADS = {w.name: w for w in (SpatialCommit, Curate)}


if __name__ == "__main__":
    # python3 -m perfbench.workloads <workload> <work dir> <cache dir> <seed> <size>
    import sys

    name, work, cache, seed, size = sys.argv[1:]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    WORKLOADS[name](root, work, cache, int(seed), size).prepare()
