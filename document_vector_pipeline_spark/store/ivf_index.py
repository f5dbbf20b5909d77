"""Persisted IVF index: the at-scale companion to operators/similarity.

`ivf_ann` recomputes centroid assignment per query batch — right for
one-shot jobs, wrong for a serving corpus.  IVFIndex materializes the
layout you'd keep at 100 TB:

- `centroids.parquet`  — tiny (n_centroids rows), read driver-side
- `cells/`             — the corpus partitioned BY centroid_id, each row
                         carrying its precomputed vector norm

A search then (1) scores the query against the centroids in plain python
(they're plan metadata), (2) reads ONLY the nprobe closest cell
directories — parquet partition pruning, verified in tests — and
(3) reranks with one dot-product fold per candidate against the stored
norms.  With nprobe = n_centroids the result is exactly brute force
(oracle-checked via the ann_bruteforce SQL twin); smaller nprobe trades
recall for reading 1/nth of the corpus — the IVF contract.

Deterministic-by-construction like everything else: centroids are the
n smallest md5(id) rows (stable across runs, engines and cluster sizes),
assignment ties break on centroid_id, scores are rounded at 6 dp with a
total ranking order.

Crash-recovery contract: unlike TextIndex (whose maintenance is
manifest-atomic because keyword postings are the PRIMARY copy of their
statistics), the IVF index is DERIVED data — every row is recomputable
from the chunk store.  Maintenance mutates cell/idmap partitions in
place (dynamic partition overwrite + FS-drop of emptied dirs), so a
mid-op crash can leave cells and the id→cell sidecar inconsistent; the
recovery action is a rebuild, not a repair: ``build()`` from the live
store, or ``VersionedVectorStore.build_ivf_asof(version)`` to restore
the exact serving state as of any committed version (the same applies
to ``build_text_asof`` for a lost keyword index).  ``cell_stats()`` is
the drift/health metric that schedules rebuilds anyway; a crashed
maintenance op just moves one forward.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from document_vector_pipeline_spark.functions.hashing import md5_long
from document_vector_pipeline_spark.functions.localrel import local_df
from document_vector_pipeline_spark.functions.par import run_parallel
from document_vector_pipeline_spark.functions.vectors import dot, l2_norm


class IVFIndex:
    def __init__(self, spark: SparkSession, path: str, n_centroids: int = 16,
                 n_buckets: int = 16):
        self.spark = spark
        self.path = path
        self.n_centroids = n_centroids
        # idmap hash-bucket count: an upsert/delete batch only reads and
        # rewrites the buckets its ids hash into, never the whole map
        self.n_buckets = n_buckets
        # centroids + codebook cached driver-side (single-writer
        # assumption, the TextIndex._m_cache discipline): they are
        # index METADATA, frozen between builds — without the cache
        # every _probe_ids call re-reads + collects the centroid
        # parquet, which in search_many/search_many_adc ran ONE Spark
        # job PER QUERY of the batch (§1: don't pay a job for plan
        # metadata).  Invalidated by build/build_pq.
        self._cents_cache: list | None = None
        self._cb_cache: list | None = None

    @property
    def _cells(self) -> str:
        return os.path.join(self.path, "cells")

    @property
    def _cents(self) -> str:
        return os.path.join(self.path, "centroids.parquet")

    @property
    def _idmap(self) -> str:
        return os.path.join(self.path, "idmap")

    # -- Hadoop-FS helpers (object-store-safe: no direct local deletes) --

    def _jpath(self, p: str):
        return self.spark._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self, jp):
        return jp.getFileSystem(self.spark._jsc.hadoopConfiguration())

    def _fs_exists(self, p: str) -> bool:
        jp = self._jpath(p)
        return self._fs(jp).exists(jp)

    def _fs_delete(self, p: str) -> None:
        jp = self._jpath(p)
        self._fs(jp).delete(jp, True)

    # -- schema sidecar -----------------------------------------------------
    # ``build`` records the cells/idmap schemas in _schema.json so every
    # later read passes an EXPLICIT schema: (1) an index built over an
    # empty corpus writes zero data files into the partitioned dirs and
    # schema inference would fail (UNABLE_TO_INFER_SCHEMA) even though
    # the index state is perfectly well-defined; (2) explicit schemas
    # skip footer inference on every maintenance/search read.  Indexes
    # from before this sidecar existed fall back to plain inference.
    # The sidecar is AUTHORITATIVE (the Delta/Iceberg discipline —
    # schema lives in the log, not in file footers): manual surgery
    # that changes the cell layout must call _record_schemas.

    @property
    def _schema_file(self) -> str:
        return os.path.join(self.path, "_schema.json")

    def _write_text(self, p: str, text: str) -> None:
        jp = self._jpath(p)
        out = self._fs(jp).create(jp, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def _read_text(self, p: str) -> str:
        jp = self._jpath(p)
        inp = self._fs(jp).open(jp)
        try:
            return self.spark._jvm.org.apache.commons.io.IOUtils.toString(
                inp, "UTF-8")
        finally:
            inp.close()

    def _record_schemas(self, **schemas: StructType) -> None:
        merged = {k: v.jsonValue() for k, v in self._schemas().items()}
        merged.update({k: v.jsonValue() for k, v in schemas.items()})
        self._write_text(self._schema_file, json.dumps(merged))
        self._schemas_cache = None

    def _schemas(self) -> dict:
        cache = getattr(self, "_schemas_cache", None)
        if cache is not None:
            return cache
        if not self._fs_exists(self._schema_file):
            self._schemas_cache = {}
        else:
            raw = json.loads(self._read_text(self._schema_file))
            self._schemas_cache = {k: StructType.fromJson(v)
                                   for k, v in raw.items()}
        return self._schemas_cache

    def _read_dir(self, path: str, key: str) -> DataFrame:
        sch = self._schemas().get(key)
        reader = self.spark.read
        if sch is not None:
            reader = reader.schema(sch)
        return reader.parquet(path)

    def _read_cells(self) -> DataFrame:
        return self._read_dir(self._cells, "cells")

    def _read_idmap(self) -> DataFrame:
        return self._read_dir(self._idmap, "idmap")

    def build(self, corpus: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding", use_udf: bool = True) -> None:
        """Assign every vector to its max-cosine centroid and persist the
        corpus clustered by cell (one shuffle on centroid_id).  Both
        writes are static-overwrite parquet jobs, so a rebuild replaces
        the index entirely through the engine's committer — no direct
        filesystem deletes, object-store-safe.

        Assignment is MAP-ONLY either way (centroids are index metadata,
        never a join side): ``use_udf=True`` scores all centroids in one
        Arrow pass (numpy products + sequential cumsum — bit-identical to
        the expression fold, see VectorStore._score_cut_np), with the
        interpreted argmin-fold expression kept as the twin.  The
        tie-break replays array_min(struct(-score, cid)): max score, then
        lowest centroid id."""
        # null vectors can't be assigned or scored — drop at ingress
        corpus = corpus.filter(F.col(vec_col).isNotNull())
        vd = F.transform(F.col(vec_col), lambda v: v.cast("double"))
        base = corpus.select(F.col(id_col).alias("vec_id"),
                             F.col(vec_col).alias("v"),
                             l2_norm(vd).alias("vnorm"))
        cents = (base
                 .select("vec_id", "v", "vnorm",
                         md5_long(F.col("vec_id").cast("string")).alias("h"))
                 .orderBy("h", "vec_id").limit(self.n_centroids)
                 .select(F.col("vec_id").alias("centroid_id"),
                         F.col("v").alias("centroid"),
                         F.col("vnorm").alias("cnorm")))
        cents.coalesce(1).write.mode("overwrite").parquet(self._cents)
        self._record_schemas(cents=cents.schema)
        self._cents_cache = None        # new build: refresh the cache
        self._cb_cache = None           # any prior codebook is stale
        cent_rows = self._centroid_rows()
        if not cent_rows:
            # empty corpus: a well-defined empty index (the argmin fold
            # below would not analyze over a zero-arm candidate array)
            assigned = self._assign_np(base, cent_rows)
        elif use_udf:
            assigned = self._assign_np(base, cent_rows)
        else:
            vd2 = F.transform(F.col("v"), lambda v: v.cast("double"))
            cands = []
            for r in cent_rows:
                carr = F.array(*[F.lit(float(x)) for x in r["centroid"]])
                denom = F.col("vnorm") * F.lit(r["cnorm"])
                s = F.round(F.when(denom == 0, F.lit(0.0))
                             .otherwise(dot(vd2, carr) / denom), 6)
                cands.append(F.struct((-s).alias("ns"),
                                      F.lit(r["centroid_id"]).alias("cid")))
            best = F.array_min(F.array(*cands))
            assigned = (base.withColumn("centroid_id", best["cid"])
                        .select("vec_id", "v", "vnorm", "centroid_id"))
        (assigned.repartition("centroid_id").write
         .partitionBy("centroid_id").mode("overwrite").parquet(self._cells))
        idmap_schema = StructType([assigned.schema["vec_id"],
                                   assigned.schema["centroid_id"]]
                                  ).add("bucket", "long")
        self._record_schemas(cells=assigned.schema, idmap=idmap_schema)
        self._write_idmap_from_cells()

    def _bucket_expr(self, vec_id):
        return F.pmod(F.xxhash64(vec_id.cast("string")),
                      F.lit(self.n_buckets)).alias("bucket")

    def _write_idmap_from_cells(self) -> None:
        """(Re)derive the id→cell sidecar from the cells themselves: a
        column-pruned scan of (vec_id, centroid_id) hashed into
        ``n_buckets`` partitions.  The sidecar is what lets upsert/delete
        find a vector's CURRENT cell without scanning the corpus — reads
        prune to the buckets the batch's ids hash into."""
        imap = (self._read_cells()
                .select("vec_id", "centroid_id",
                        self._bucket_expr(F.col("vec_id"))))
        (imap.repartition("bucket").write
         .partitionBy("bucket").mode("overwrite").parquet(self._idmap))

    def _ensure_idmap(self) -> None:
        if not self._fs_exists(self._idmap):
            self._write_idmap_from_cells()

    @staticmethod
    def _assign_np(base: DataFrame, cent_rows, cb=None, n_sub: int = 8,
                   rotate: bool = False) -> DataFrame:
        """Arrow twin of the argmin-fold assignment: per-centroid cosine
        via products + sequential cumsum (bit-identical IEEE order),
        py_round6_np for Round(_, 6), columns pre-sorted by centroid_id so
        np.argmin's first-minimum rule replays the (−score, cid) order.

        With ``cb`` given, the SAME Arrow pass also emits ``pq_codes``
        (the _with_pq_codes encode fused in — one Python boundary per
        maintenance batch instead of two chained ones, §4; kernels and
        codes bit-identical to the standalone encode)."""
        import numpy as np

        from document_vector_pipeline_spark.functions.vectors import (
            py_round6_np,
        )

        id_type = base.schema["vec_id"].dataType.simpleString()
        schema = (f"vec_id {id_type}, v array<float>, vnorm double, "
                  "centroid_id long")
        if cb is not None:
            schema += ", pq_codes array<int>"
        if not cent_rows:
            # empty corpus → no centroids; typed-empty assignment
            return base.sparkSession.createDataFrame([], schema)
        C = np.array([[float(x) for x in r["centroid"]]
                      for r in cent_rows], dtype=np.float64)
        cnorms = np.array([float(r["cnorm"]) for r in cent_rows])
        cids = np.array([int(r["centroid_id"]) for r in cent_rows])
        if cb is not None:
            from document_vector_pipeline_spark.operators.similarity import (
                np_fixed_point_2d_fn,
                pq_encode_codes_fn,
                wht_signs,
            )

            dim = len(cb[0])
            Srot = (np.array(wht_signs(dim), dtype=np.int64)
                    if rotate else None)
            fp2 = np_fixed_point_2d_fn()
            enc = pq_encode_codes_fn(cb, n_sub, dim // n_sub)

        def run(batches):
            import pandas as pd
            for pdf in batches:
                if pdf.empty:
                    continue
                V = np.array(list(pdf["v"]), dtype=np.float64)
                vn = pdf["vnorm"].to_numpy()
                S = np.empty((len(V), len(C)), dtype=np.float64)
                for ci in range(len(C)):
                    dots = np.cumsum(V * C[ci][None, :], axis=1)[:, -1]
                    denom = vn * cnorms[ci]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        s = dots / denom
                    S[:, ci] = py_round6_np(np.where(denom == 0.0, 0.0, s))
                best = cids[S.argmax(axis=1)]  # ties → first → lowest cid
                out = pdf[["vec_id", "v", "vnorm"]].copy()
                out["centroid_id"] = best
                if cb is not None:
                    A = fp2(V)
                    if Srot is not None:
                        A = A @ Srot
                    codes = enc(A) + 1
                    out["pq_codes"] = [[int(c) for c in row]
                                       for row in codes]
                yield out

        return base.mapInPandas(run, schema)

    @property
    def _codebook(self) -> str:
        return os.path.join(self.path, "codebook.parquet")

    @property
    def _pq_meta(self) -> str:
        return os.path.join(self.path, "pq_meta.json")

    def _pq_rotate(self) -> bool:
        """Whether this index's PQ stage runs in the Walsh–Hadamard
        rotated domain — persisted INDEX METADATA (like the codebook):
        encode at build/upsert and the query LUT must agree, so the
        flag travels with the files, not the caller."""
        if not self._fs_exists(self._pq_meta):
            return False
        import json as _json

        return bool(_json.loads(self._read_text(self._pq_meta))
                    .get("rotate", False))

    def build_pq(self, corpus: DataFrame, id_col: str = "vec_id",
                 vec_col: str = "embedding", n_codes: int = 16,
                 n_sub: int = 8, dim: int = 64,
                 rotate: bool = False, cb_iters: int = 2) -> None:
        """Augment the index with PQ codes: after ``build``, re-persist
        each cell row with its ``n_sub`` codebook codes (array<int>) and
        write the codebook alongside the centroids.  An ADC search then
        reads n_sub small ints per row instead of ``dim`` floats — the
        persisted FAISS-IVFADC layout (IVF prunes cells, PQ shrinks the
        bytes the surviving cells cost).  Codes use the same exact
        1e-6 fixed-point integer encode as ``pq_ann`` (argmin integer
        subspace L2, ties to the lowest code), so an exhaustive-probe
        ADC search is bit-identical to ``pq_ann`` — the oracle.

        ``rotate=True`` trains and encodes in the Walsh–Hadamard
        rotated domain (similarity.opq_fixed_point — the OPQ-family
        preprocessing, measured +6pp recall@10 on this corpus, see
        ann_opq_recall): FAISS's ``OPQ..,IVF..,PQ..`` chain with the
        structured isometry as R.  The coarse quantizer stays in the
        ORIGINAL space (cell geometry unchanged — probing, upsert
        assignment, and rebuild policy are rotation-blind); only the
        PQ encode and the query LUT rotate, and the flag persists as
        index metadata so every later encode agrees.  Exhaustive-probe
        ADC is then bit-identical to ``opq_ann``."""
        from document_vector_pipeline_spark.operators.similarity import (
            opq_fixed_point,
            pq_codebook,
        )

        fp = ((lambda c: opq_fixed_point(c, dim)) if rotate else None)
        cb = pq_codebook(corpus, n_codes, dim, id_col, vec_col, fp=fp,
                         n_sub=n_sub, iters=cb_iters)
        cb_df = local_df(
            self.spark,
            [(i + 1, list(c)) for i, c in enumerate(cb)],
            "code int, c6 array<bigint>")
        cb_df.coalesce(1).write.mode("overwrite").parquet(self._codebook)
        self._cb_cache = [list(c) for c in cb]   # fresh codebook
        import json as _json

        self._write_text(self._pq_meta, _json.dumps({"rotate": rotate}))

        cells = self._read_cells()
        # checkpoint-materialize the coded rows so the overwrite of the
        # directory they were read from is legal (no self-overwriting
        # file plan) WITHOUT a staged double write — one write replaces
        # the former tmp-dir + rewrite + FS-delete sequence
        with_codes = (self._with_pq_codes(cells, cb, n_sub, dim,
                                          rotate=rotate)
                      .localCheckpoint(eager=True))
        (with_codes.repartition("centroid_id").write
         .partitionBy("centroid_id").mode("overwrite")
         .parquet(self._cells))
        self._record_schemas(cells=with_codes.schema,
                             codebook=cb_df.schema)

    def _read_codebook(self) -> list[list[int]]:
        if self._cb_cache is None:
            rows = sorted(self._read_dir(self._codebook,
                                         "codebook").collect(),
                          key=lambda r: r["code"])
            self._cb_cache = [list(r["c6"]) for r in rows]
        return self._cb_cache

    def _centroid_rows(self):
        if self._cents_cache is None:
            self._cents_cache = sorted(
                self._read_dir(self._cents, "cents").collect(),
                key=lambda r: r["centroid_id"])
        return self._cents_cache

    def upsert(self, df: DataFrame, id_col: str = "vec_id",
               vec_col: str = "embedding", n_sub: int = 8) -> None:
        """Incremental index maintenance: add or replace the batch's
        vectors, re-encoding ONLY the touched cells — the per-upsert
        maintenance the reference's Cosmos vector index performs on
        every write (CosmosDBClientWrapper.cs:36-105, QuantizedFlat on
        /embedding), here as a bounded batch job instead of a rebuild.

        Cost model (the 100 TB contract): assignment of the new batch is
        map-only against the existing centroids; the previous location
        of each replaced id comes from the ``idmap`` sidecar pruned to
        the batch's hash buckets; then only the affected cell
        partitions (old homes ∪ new homes, ≤ n_centroids) are read,
        anti-joined against the batch ids, merged with the new rows and
        dynamically overwritten — untouched cells and buckets are never
        read or written.  If the index is PQ-augmented, new rows are
        PQ-encoded with the EXISTING codebook (exact same argmin
        fixed-point encode), so ADC search stays bit-consistent.

        Centroids and codebook are deliberately frozen: that is how IVF
        serving indexes age (FAISS add_with_ids); a distribution shift
        big enough to invalidate them is a ``build``/``build_pq``
        rebuild, not an upsert."""
        self._ensure_idmap()
        # a duplicated id in the batch would survive the anti-join merge
        # twice (two rows in the cells + idmap that later delete/upsert
        # calls treat inconsistently) — refuse it up front; the check
        # runs on the FULL batch (null embeddings included) so an id
        # carrying both a vectored and a vector-less row is refused as
        # the same ambiguity.  ONE aggregate job over the batch-sized
        # frame covers all three ingress questions (duplicate ids?
        # null-embedding rows? anything left to upsert?) — the previous
        # three separate actions cost three driver round-trips per
        # upsert (§1.2: fewer passes).
        ing = df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(F.col(id_col)).alias("n_ids"),
            F.sum(F.when(F.col(id_col).isNull(), 1).otherwise(0))
            .alias("n_null_ids"),
            F.count(F.col(vec_col)).alias("n_vec"),
            # the idmap buckets the vectored rows hash into (collect_set
            # skips the NULL of a vector-less row)
            F.collect_set(F.when(F.col(vec_col).isNotNull(),
                                 self._bucket_expr(F.col(id_col))))
            .alias("bkts")).collect()[0]
        # distinct id GROUPS including the null group — countDistinct
        # skips nulls, and a batch with two null ids is the same
        # ambiguity as two equal ids
        n_groups = ing["n_ids"] + (1 if ing["n_null_ids"] else 0)
        if ing["n_rows"] != n_groups:
            raise ValueError("upsert batch contains duplicate vec_id rows")
        # CDC semantics: an upsert row whose embedding is NULL replaces
        # a previously-vectored document with a keyword-only version —
        # the old vector must LEAVE the index, not survive as a stale
        # serving row (keeps stream_index_maintain's drained-stream ≡
        # batch-build bit-identity for vector-dropping replacements).
        if ing["n_rows"] > ing["n_vec"]:
            self.delete(df.filter(F.col(vec_col).isNull())
                        .select(F.col(id_col).alias("vec_id")).distinct())
        df = df.filter(F.col(vec_col).isNotNull())
        if ing["n_vec"] == 0:
            return  # batch was all vector-less rows; deletes done above
        # right-size the batch for the Arrow stages (§2.5/§4.2): a
        # maintenance batch arriving on a wide upstream layout (e.g. a
        # 32-partition persisted corpus filtered to 1 k rows) would run
        # assignment/encode/checkpoint as dozens of near-empty Python
        # tasks whose fixed Arrow/worker latency dwarfs the work, and
        # every downstream merge stage inherits the empty partitions.
        # ~4k rows per task keeps the vectorized batches large; a big
        # batch keeps its parallelism (cap = defaultParallelism).
        par = self.spark.sparkContext.defaultParallelism
        tgt = max(1, min(par, -(-int(ing["n_vec"]) // 4096)))
        df = df.repartition(tgt)
        vd = F.transform(F.col(vec_col), lambda v: v.cast("double"))
        base = df.select(F.col(id_col).alias("vec_id"),
                         F.col(vec_col).alias("v"),
                         l2_norm(vd).alias("vnorm"))
        # assignment + (when PQ-augmented) code encode run FUSED in one
        # Arrow pass — previously two chained Python stages per batch
        cb = (self._read_codebook() if self._fs_exists(self._codebook)
              else None)
        assigned = self._assign_np(base, self._centroid_rows(), cb=cb,
                                   n_sub=n_sub,
                                   rotate=self._pq_rotate()
                                   if cb is not None else False)
        # materialize once: reused for cell lists, both merges, both writes
        assigned = assigned.localCheckpoint(eager=True)
        ids = assigned.select("vec_id").distinct()
        bkts = sorted(ing["bkts"])
        imap = (self._read_idmap()
                .filter(F.col("bucket").isin(bkts)))
        # ONE collect yields the new home cells (from the checkpointed
        # batch) and the replaced ids' old cells (from the idmap pruned
        # to the batch's buckets), told apart by a tag
        cells = (assigned.select(F.lit(True).alias("new"), "centroid_id")
                 .unionByName(imap.join(F.broadcast(ids), "vec_id")
                              .select(F.lit(False).alias("new"),
                                      "centroid_id"))
                 .distinct().collect())
        new_cells = {r["centroid_id"] for r in cells if r["new"]}
        old_cells = {r["centroid_id"] for r in cells if not r["new"]}
        affected = sorted(old_cells | new_cells)

        cur = (self._read_cells()
               .filter(F.col("centroid_id").isin(affected))
               .join(F.broadcast(ids), "vec_id", "left_anti"))
        cur_map = imap.join(F.broadcast(ids), "vec_id", "left_anti")
        new_map = assigned.select(
            "vec_id", "centroid_id", self._bucket_expr(F.col("vec_id")))
        # cells and idmap are independent targets fed by the same
        # checkpointed batch: materialize and overwrite them
        # CONCURRENTLY (§2.6) instead of paying four sequential walls
        merged, merged_map = run_parallel(
            lambda: cur.unionByName(assigned).localCheckpoint(eager=True),
            lambda: (cur_map.unionByName(new_map)
                     .localCheckpoint(eager=True)))
        # every new cell and batch bucket receives >= 1 new row, so
        # only an old cell no new row lands in can empty
        run_parallel(
            lambda: self._overwrite_partitions(
                merged, self._cells, "centroid_id",
                sorted(old_cells - new_cells)),
            lambda: self._overwrite_partitions(merged_map, self._idmap,
                                               "bucket", []))

    def delete(self, ids) -> None:
        """Remove vectors from the index by id: the idmap sidecar (pruned
        to the ids' hash buckets) locates their cells, only those cell
        partitions are rewritten without the victims, and cells/buckets
        that empty out have their directories dropped through the Hadoop
        FS.  Bounded by the affected cells, never a corpus scan."""
        if isinstance(ids, DataFrame):
            ids = ids.select(F.col(ids.columns[0]).alias("vec_id")).distinct()
            bkts = ids.select(self._bucket_expr(F.col("vec_id"))).distinct()
        else:
            # a JVM local relation: read by every job below, never by a
            # Python worker; its bucket list is deduplicated driver-side,
            # so collecting it runs no job
            ids = local_df(self.spark,
                           [(i,) for i in sorted({int(i) for i in ids})],
                           "vec_id long")
            bkts = ids.select(self._bucket_expr(F.col("vec_id")))
        self._ensure_idmap()
        bkts = sorted({r[0] for r in bkts.collect()})
        imap = (self._read_idmap()
                .filter(F.col("bucket").isin(bkts)))
        affected = sorted({r[0] for r in imap.join(F.broadcast(ids), "vec_id")
                           .select("centroid_id").distinct().collect()})
        if not affected:
            return
        # the two survivor frames and their overwrites are independent
        # (different directories) — overlap them (§2.6)
        cur, cur_map = run_parallel(
            lambda: (self._read_cells()
                     .filter(F.col("centroid_id").isin(affected))
                     .join(F.broadcast(ids), "vec_id", "left_anti")
                     .localCheckpoint(eager=True)),
            lambda: (imap.join(F.broadcast(ids), "vec_id", "left_anti")
                     .localCheckpoint(eager=True)))
        run_parallel(
            lambda: self._overwrite_partitions(cur, self._cells,
                                               "centroid_id", affected),
            lambda: self._overwrite_partitions(cur_map, self._idmap,
                                               "bucket", bkts))

    def compact(self) -> None:
        """Coalesce every cell (and the idmap sidecar) back to one file
        per partition.  upsert/delete already rewrite each touched
        partition wholesale — one file — so routine maintenance does
        NOT fragment the index; compact matters after a large parallel
        build or AQE rebalancing leaves multi-file partitions, or to
        re-derive the idmap after manual surgery.  Full rewrite through
        the committer (object-store-safe), search results unchanged."""
        cells = (self._read_cells()
                 .localCheckpoint(eager=True))
        (cells.repartition("centroid_id").write
         .partitionBy("centroid_id").mode("overwrite")
         .parquet(self._cells))
        self._write_idmap_from_cells()

    def maybe_rebuild(self, corpus: DataFrame | None = None,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      max_fill_milli: int = 3000,
                      max_empty_milli: int = 500,
                      n_sub: int = 8, use_udf: bool = True) -> bool:
        """Rebuild POLICY consuming ``cell_stats`` — the symmetry of
        TextIndex.maybe_compact: upsert/delete freeze the centroids
        (FAISS add_with_ids aging), so under sustained drift cells go
        out of balance and search quality/cost degrades with nobody
        responsible for noticing.  This is the scheduled check that
        notices.  Triggers when the HOTTEST cell exceeds
        ``max_fill_milli`` (3000 = 3x the uniform share) or more than
        ``max_empty_milli`` per-mille of centroids own NO vectors
        (mass migrated away); below both thresholds the only cost is
        the partition-column-only stats scan (footer metadata) plus
        the KB-sized centroid read — no data job, no write.

        On trigger: full ``build`` from ``corpus`` (or, when omitted,
        from the index's own LIVE rows — checkpoint-materialized
        first, so rebuilding from the directory being overwritten is
        legal), and if the index is PQ-augmented the codebook is
        RETRAINED on the same source via ``build_pq`` (a drift big
        enough to rebuild invalidates the frozen codebook too; shape
        n_codes/dim carries over from the existing codebook,
        ``n_sub`` from the caller).  Returns True iff it rebuilt."""
        # a prior delete may have FS-dropped emptied cell dirs; the
        # session file-status cache can still list them — refresh so
        # the stats scan and the live-rows read see the real layout
        self.spark.catalog.refreshByPath(self._cells)
        # ONE collect of the ≤ n_centroids per-cell counts answers both
        # trigger questions (hottest fill + empty share) — this was two
        # jobs (a cell_stats aggregate and a distinct count) over the
        # same partition-column scan (§1.2).  Arithmetic replays
        # cell_stats' fill_milli exactly: positive integer floor div.
        per = (self._read_cells().select("centroid_id")
               .groupBy("centroid_id")
               .agg(F.count(F.lit(1)).alias("n")).collect())
        n_cents = len(self._centroid_rows())
        observed = len(per)
        total = sum(r["n"] for r in per)
        hottest = (max((1000 * r["n"] * observed) // total for r in per)
                   if per and total else None)
        empty_milli = (1000 * (n_cents - observed)) // max(n_cents, 1)
        if ((hottest or 0) <= max_fill_milli
                and empty_milli <= max_empty_milli):
            return False
        if corpus is None:
            corpus = (self._read_cells()
                      .select(F.col("vec_id").alias(id_col),
                              F.col("v").alias(vec_col))
                      .localCheckpoint(eager=True))
        had_pq = self._fs_exists(self._codebook)
        if had_pq:
            cb = self._read_codebook()
            had_rotate = self._pq_rotate()     # survives the rebuild
        self.build(corpus, id_col=id_col, vec_col=vec_col, use_udf=use_udf)
        if had_pq:
            # a codebook trained on an empty corpus has no rows to carry
            # shape from — fall back to the build_pq defaults
            self.build_pq(corpus, id_col=id_col, vec_col=vec_col,
                          n_codes=len(cb) or 16, n_sub=n_sub,
                          dim=len(cb[0]) if cb else 64,
                          rotate=had_rotate)
        return True

    def _overwrite_partitions(self, df: DataFrame, path: str,
                              part_col: str, affected: list) -> None:
        """Dynamic-partition-overwrite ``df`` into ``path`` (only the
        partitions present in ``df`` are replaced), then drop the
        directories of ``affected`` partitions that received no rows —
        dynamic overwrite alone would leave their stale files in place.
        ``affected`` need only name the partitions that may empty; when
        it is empty no job asks which ones are present.  ``df`` must be
        checkpoint-materialized (it was derived from ``path`` and Spark
        refuses a self-overwriting file plan)."""
        present = ({r[0] for r in df.select(part_col).distinct().collect()}
                   if affected else set())
        (df.repartition(part_col).write
         .partitionBy(part_col).mode("overwrite")
         .option("partitionOverwriteMode", "dynamic").parquet(path))
        for p in set(affected) - present:
            self._fs_delete(os.path.join(path, f"{part_col}={p}"))

    @staticmethod
    def _with_pq_codes(df: DataFrame, cb: list[list[int]], n_sub: int,
                       dim: int, rotate: bool = False) -> DataFrame:
        """Add ``pq_codes`` (argmin integer subspace L2, 1-based, ties to
        the lowest code — first-min == struct(d, code) min) to a cells
        DataFrame with a ``v`` vector column.  Map-only; the codebook is
        a numpy closure.  ``rotate`` encodes in the WHT-rotated domain
        (must match the codebook's — build_pq persists the flag)."""
        import numpy as np

        from document_vector_pipeline_spark.operators.similarity import (
            np_fixed_point_2d_fn,
            pq_encode_codes_fn,
            wht_signs,
        )

        sub = dim // n_sub
        S = np.array(wht_signs(dim), dtype=np.int64) if rotate else None
        fp2 = np_fixed_point_2d_fn()
        enc = pq_encode_codes_fn(cb, n_sub, sub)

        # the encode UDF takes the RAW vector and replays the
        # fixed-point (+ optional rotation) in numpy — feeding it the
        # expression form would collapse into its input and trip the
        # Spark 4.1 UDF-extraction bug (similarity.pq_fixed_point).
        # Batched across the Arrow batch (one normalize + one distance
        # tensor per subspace instead of per-row numpy calls); codes
        # bit-identical — exact int64 ops, argmin first-min tie rule.
        @F.pandas_udf("array<int>")
        def encode(vs):
            import pandas as pd
            n = len(vs)
            if n == 0:
                return pd.Series([], dtype=object)
            A = fp2(np.stack([np.asarray(vs.iloc[i], dtype=np.float64)
                              for i in range(n)]))
            if S is not None:
                A = A @ S
            codes = enc(A) + 1
            return pd.Series([[int(c) for c in codes[i]]
                              for i in range(n)])

        return df.withColumn("pq_codes", encode(F.col("v")))

    def search_many_adc(self, queries: DataFrame, k: int = 10,
                        nprobe: int = 4, n_sub: int = 8, dim: int = 64,
                        qid_col: str = "query_id",
                        qvec_col: str = "query_vec",
                        id_filter=None) -> DataFrame:
        """Batch ADC search over the PQ-augmented index: probed cells
        are read once (partition-pruned), each surviving row is scored
        by ``n_sub`` integer LUT lookups on its stored codes — no
        vector column is touched at all.  The LUT (query × codebook
        integer dots) travels as a numpy closure inside ONE Arrow
        pandas UDF (the ``make_pq_score_udf`` pattern), so the plan's
        size is independent of the query-batch size — a literal
        ``create_map`` here would grow O(n_queries × n_sub × n_codes)
        Catalyst nodes and stall analysis on real serving batches.
        Exact integers end-to-end (int64 gathers + row sums, no
        floats until the final scale), so nprobe = n_centroids
        reproduces ``pq_ann`` bit-for-bit.

        The query batch is collected ONCE (raw vectors and their
        fixed-point form in one job) and the probe list rebuilt as a
        JVM local relation, so the caller's plan runs once per call;
        ``query_id`` keeps the caller's type.  Ranking is the
        ``row_number() <= k`` window with Spark's partial
        WindowGroupLimit below its exchange (see ``search_many``)."""
        from document_vector_pipeline_spark.operators.similarity import (
            opq_fixed_point,
            pq_fixed_point,
        )

        sub = dim // n_sub
        cb = self._read_codebook()
        queries = queries.filter(F.col(qvec_col).isNotNull())
        # query LUTs must live in the SAME domain the stored codes were
        # encoded in — the persisted pq_meta flag decides, not the caller
        q6_expr = (opq_fixed_point(F.col(qvec_col), dim)
                   if self._pq_rotate()
                   else pq_fixed_point(F.col(qvec_col), dim))
        q_rows = (queries
                  .select(F.col(qid_col).alias("query_id"),
                          F.col(qvec_col).alias("raw"), q6_expr.alias("q6"))
                  .collect())
        lut = {r["query_id"]: [[sum(r["q6"][m * sub + i] * cw[m * sub + i]
                                    for i in range(sub))
                                for cw in cb]
                               for m in range(n_sub)]
               for r in q_rows}
        raw = {r["query_id"]: [float(v) for v in r["raw"]] for r in q_rows}
        probe_pairs = []
        for qid, qd in raw.items():
            for cid in self._probe_ids(qd, nprobe):
                probe_pairs.append((qid, cid))
        qid_type = queries.schema[qid_col].dataType.simpleString()
        probes = local_df(
            self.spark,
            probe_pairs, f"query_id {qid_type}, centroid_id long")
        all_cells = sorted({c for _, c in probe_pairs})
        cells = (self._read_cells()
                 .filter(F.col("centroid_id").isin(all_cells))
                 .select("vec_id", "centroid_id", "pq_codes"))
        # filtered-ANN semantics on the compressed path too: the
        # predicate cuts the pruned cell scan BEFORE any LUT work; the
        # codebook stays trained on the full index (FAISS IDSelector)
        if id_filter is not None:
            cells = cells.filter(id_filter)
        cand = cells.join(F.broadcast(probes), "centroid_id")

        import numpy as np

        qids_sorted = sorted(lut)
        qidx = {q: i for i, q in enumerate(qids_sorted)}
        # (n_queries, n_sub, n_codes) int64 — exact python ints, closure-
        # captured once; plan size stays O(1) in the query count
        lut_np = np.array([lut[q] for q in qids_sorted], dtype=np.int64)

        @F.pandas_udf("long")
        def adc_dot(qid_s, codes_s):
            import pandas as _pd
            if len(qid_s) == 0:
                return _pd.Series([], dtype="int64")
            qi = qid_s.map(qidx).to_numpy(dtype=np.int64)
            C = np.array(list(codes_s), dtype=np.int64) - 1  # 1-based codes
            vals = lut_np[qi[:, None], np.arange(C.shape[1])[None, :], C]
            return _pd.Series(vals.sum(axis=1))

        scored = cand.select(
            "query_id", "vec_id",
            F.round(adc_dot(F.col("query_id"), F.col("pq_codes"))
                    / F.lit(1e12), 6).alias("score"))
        w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                                   F.col("vec_id"))
        return (scored.withColumn("rank",
                                   F.row_number().over(w).cast("int"))
                .filter(F.col("rank") <= k)
                .select("query_id", "vec_id", "score", "rank"))

    def cell_stats(self) -> DataFrame:
        """Cell-balance monitoring — (centroid_id, n_vectors, share_ppm,
        fill_milli): per-cell population, corpus share in ppm, and fill
        factor vs the uniform ideal (1000 = perfectly balanced).  THE
        health metric for a frozen-centroid index under incremental
        upsert (assignment drifts as the data distribution shifts; a
        cell with fill_milli >> 1000 is the signal to rebuild).
        Column-pruned scan of the partition column only — at 100 TB the
        scan reads directory metadata plus one column."""
        cells = self._read_cells().select("centroid_id")
        per = (cells.groupBy("centroid_id")
               .agg(F.count(F.lit(1)).alias("n_vectors")))
        tot = per.agg(F.sum("n_vectors").alias("n_total"),
                      F.count(F.lit(1)).alias("n_cells"))
        return (per.crossJoin(F.broadcast(tot))
                .select("centroid_id",
                        "n_vectors",
                        F.expr("(1000000 * n_vectors) div n_total")
                         .alias("share_ppm"),
                        F.expr("(1000 * n_vectors * n_cells) div n_total")
                         .alias("fill_milli"))
                .orderBy("centroid_id"))

    def _probe_ids(self, qd: list[float], nprobe: int) -> list[int]:
        """Pick the nprobe closest centroids driver-side (they are index
        metadata, a few KB — cached, so a query batch costs zero jobs
        here)."""
        qnorm = math.sqrt(sum(v * v for v in qd))
        rows = self._centroid_rows()
        scored = []
        for r in rows:
            c = [float(x) for x in r["centroid"]]
            denom = r["cnorm"] * qnorm
            s = 0.0 if denom == 0 else sum(a * b for a, b in zip(c, qd)) / denom
            scored.append((round(s, 6), r["centroid_id"]))
        scored.sort(key=lambda t: (-t[0], t[1]))
        return [cid for _, cid in scored[:nprobe]]

    def search(self, query_vector: list[float], k: int = 10,
               nprobe: int = 4) -> DataFrame:
        """Top-k over the nprobe closest cells only (partition-pruned scan;
        nprobe = n_centroids degrades gracefully to exact brute force)."""
        qd = [float(v) for v in query_vector]
        qnorm = math.sqrt(sum(v * v for v in qd))
        probes = self._probe_ids(qd, nprobe)
        cells = (self._read_cells()
                 .filter(F.col("centroid_id").isin(probes)))
        q = F.array(*[F.lit(v) for v in qd])
        vd = F.transform(F.col("v"), lambda v: v.cast("double"))
        denom = F.col("vnorm") * F.lit(qnorm)
        score = F.round(F.when(denom == 0, F.lit(0.0))
                         .otherwise(dot(vd, q) / denom), 6)
        return (cells.withColumn("score", score)
                .orderBy(F.desc("score"), "vec_id").limit(k)
                .select("vec_id", "score"))

    def search_many(self, queries: DataFrame, k: int = 10, nprobe: int = 4,
                    qid_col: str = "query_id",
                    qvec_col: str = "query_vec",
                    id_filter=None) -> DataFrame:
        """Batch IVF search: every query answered in ONE partition-pruned
        scan — (query_id, vec_id, score, rank).

        The query set is collected (it is index metadata-sized by
        definition) and each query's nprobe cells are picked driver-side
        from the tiny centroid table; the cells directory is then read
        ONCE, pruned to the union of all probed cells, and a broadcast
        join keeps each (row, query) pair only where the row's cell is in
        that query's probe list.  The query frame is collected ONCE:
        the probe lists come from those driver rows and the batch is
        rebuilt as a JVM local relation, so the caller's plan runs once
        per call and ``query_id`` keeps the caller's type.  Ranking is
        two-phase: for a ``row_number() <= k`` window Spark's optimizer
        inserts a partial WindowGroupLimit below the window's exchange —
        a per-partition cut to ≤ k rows per query under the window's own
        total order (score desc, vec_id), so lossless, and in the JVM —
        so ≤ k·n_partitions skinny rows per query reach the exchange,
        never the scored scan.  Spark inserts it only for k below
        ``spark.sql.optimizer.windowGroupLimitThreshold`` (1000): above
        that the result is the same, but every scored row reaches the
        exchange.  This replaces the one-search-per-query loop: N
        queries cost one pruned scan instead of N."""
        q_rows = (queries.filter(F.col(qvec_col).isNotNull())
                  .select(qid_col, qvec_col).collect())
        recs = []
        for r in q_rows:
            qd = [float(v) for v in r[1]]
            recs.append((r[0], qd, math.sqrt(sum(v * v for v in qd)),
                         self._probe_ids(qd, nprobe)))
        all_cells = sorted({c for _, _, _, ps in recs for c in ps})
        qid_type = queries.schema[qid_col].dataType.simpleString()
        qdf = local_df(
            self.spark,
            recs, f"query_id {qid_type}, __qv array<double>, "
                  "__qnorm double, __probes array<bigint>")
        cells = (self._read_cells()
                 .filter(F.col("centroid_id").isin(all_cells)))
        vd = F.transform(F.col("v"), lambda v: v.cast("double"))
        denom = F.col("vnorm") * F.col("__qnorm")
        score = F.round(F.when(denom == 0, F.lit(0.0))
                         .otherwise(dot(vd, F.col("__qv")) / denom), 6)
        # ``id_filter`` (a predicate over vec_id) is filtered-ANN
        # semantics: applied to the pruned cell scan BEFORE scoring, so
        # a namespace/tenant restriction also cuts the scoring work
        if id_filter is not None:
            cells = cells.filter(id_filter)
        scored = (cells
                  .join(F.broadcast(qdf),
                        F.array_contains("__probes", F.col("centroid_id")))
                  .withColumn("score", score)
                  .select("query_id", "vec_id", "score"))
        w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                                   F.col("vec_id"))
        return (scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("query_id", "vec_id", "score", "rank"))
