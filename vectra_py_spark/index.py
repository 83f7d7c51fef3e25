"""SparkVectorIndex — the vector index as a partitioned Parquet table.

Re-expresses the reference's ``LocalIndex``
(``/root/reference/src/vectra_py/local_index.py``) — one ``index.json``
folder fully materialized in driver memory, rewritten wholesale per
commit — as a columnar Parquet table with declared schema (SURVEY.md
§1.1, §2.1 S1–S6, §2.8 D1–D4):

- load (S1) → ``spark.read.parquet`` with a fixed schema + ``.cache()``
- create (S2) → empty DataFrame write + a meta row
- save/commit (S4) → a staging write plus per-bucket directory swap
  replaces the whole-file copy-on-write swap (``local_index.py:80-90``)
- metadata side-files (S5/S6) → unnecessary: columnar storage gives
  column pruning; "indexed" fields become typed top-level columns so
  predicates push into the scan
- insert/upsert/delete (D1–D3) → staged-batch union + window dedup
  (MERGE-equivalent on plain Parquet)
- query_items (V5) → filter → HOF cosine → ``orderBy().limit(k)``
  which Catalyst executes as ``TakeOrderedAndProject`` (per-partition
  heap top-k + driver merge — no full shuffle sort, strictly better
  than the reference's full sort at ``local_index.py:141``)

Scale (100 TB): items live directory-partitioned by
``_bucket = pmod(xxhash64(id), n_buckets)``; the scan parallelizes per
file split; top-k merges k rows per
partition on the driver. Metadata filters prune row groups via Parquet
min/max stats on the typed columns. ``n_buckets`` is pinned in a
``_vectra_meta.json`` side-file at create time so every writer agrees
on the id→bucket map for the table's lifetime. A merge shuffles the
touched buckets once, hash-partitioned by ``_bucket`` into
``min(touched buckets, defaultParallelism)`` partitions, so its dedup
window needs no second exchange and the touched bucket files are
written by parallel tasks.

DML is **partition-scoped** and writes each touched bucket once. A
commit reads only the buckets holding touched ids (partition-pruned
scan), merges them with the staged rows, and writes the result once,
partitioned by ``_bucket``, into a hidden ``_staging-<uuid>`` directory
under the index path (``_``-prefixed, so Spark's listing of the table
skips it). The same job observes (``DataFrame.observe``) the insert
clash flag and which buckets changed or still hold rows; a clash
discards the staging directory before anything is published. Then each
changed bucket directory is swapped for its staged copy with one Hadoop
FS rename, or deleted if the bucket emptied. Untouched bucket files are
never opened, so upsert cost is O(touched buckets), not O(table).

The swap is per directory, not atomic across buckets, and assumes a
single writer. A crash mid-swap leaves every bucket either old or new,
except that the one being swapped may be missing; the new copies not
yet swapped in (including that one) stay in the hidden staging
directory, where readers never see them. Emptied buckets are deleted
before the first rename, so once renames have begun, moving the staging
directory's ``_bucket=*`` directories over the live ones completes the
commit.
"""

from __future__ import annotations

import json
import uuid
from collections.abc import Mapping, Sequence
from typing import Any

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vectra_py_spark.filters import compile_filter
from vectra_py_spark.functions.vector import cosine_to_query, l2_norm

__all__ = ["SparkVectorIndex", "ITEM_SCHEMA", "BUCKET_COL"]

# Internal partition column. Underscore-prefixed names are filtered from
# user-visible output by ``items()``; the meta side-file below is invisible
# to Spark's file listing for the same reason (``_``-prefixed = hidden).
BUCKET_COL = "_bucket"
META_FILE = "_vectra_meta.json"
DEFAULT_N_BUCKETS = 64  # fixture-scale default; O(10k) at 100 TB

# IndexItem (``custom_types.py:43-49``): id, vector, norm, metadata.
# metadata_ref (the side-file pointer, ``metadataFile``) is dropped —
# full metadata rides in the row; columnar pruning makes the split moot.
ITEM_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), nullable=False),
        T.StructField("vector", T.ArrayType(T.DoubleType()), nullable=False),
        T.StructField("norm", T.DoubleType(), nullable=False),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


def _fs_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path`` — works on any scheme the
    session can read (file/hdfs/s3a)."""
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), jpath


def discard_staging(spark: SparkSession, staging: str) -> None:
    """Delete a staging directory that will not be published."""
    fs, jpath = _fs_path(spark, staging)
    fs.delete(jpath, True)


def write_staging(df: DataFrame, parent: str, partition_col: str | None = None) -> str:
    """Write ``df`` once into a fresh ``_staging-<uuid>`` directory under
    ``parent`` and return its path. The name starts with ``_`` and has no
    ``=``, so Spark's file listing of ``parent`` skips it; an
    ``Observation`` attached to ``df`` is complete when this returns. A
    failed write removes the directory."""
    staging = f"{parent}/_staging-{uuid.uuid4().hex}"
    writer = df.write.mode("errorifexists")
    if partition_col is not None:
        writer = writer.partitionBy(partition_col)
    try:
        writer.parquet(staging)
    except BaseException:
        discard_staging(df.sparkSession, staging)
        raise
    return staging


def swap_in(spark: SparkSession, staging: str, moves: Mapping[str, str | None]) -> None:
    """Publish a staging write: every live directory in ``moves`` is
    deleted and, unless it maps to ``None``, replaced by its staged
    directory with one rename; then the staging directory is removed.
    Deletions run before the first rename (see the module docstring for
    what a crash mid-swap leaves behind)."""
    # one FileSystem for the whole swap: a rename cannot cross file
    # systems, so every path in ``moves`` lives on the staging one
    fs, jstaging = _fs_path(spark, staging)
    path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    order = sorted(moves.items(), key=lambda kv: kv[1] is not None)
    for live, staged in order:
        jlive = path(live)
        fs.delete(jlive, True)
        if staged is not None and not fs.rename(path(staged), jlive):
            raise OSError(f"could not move {staged} to {live}")
    fs.delete(jstaging, True)


def _metadata_resolver(df: DataFrame):
    """Field → Column: typed top-level column when present (pushdown-able),
    else ``metadata[field]`` (the reference's non-indexed metadata)."""
    cols = set(df.columns)

    def resolve(field: str):
        if field in cols:
            return F.col(field)
        return F.col("metadata").getItem(field)

    return resolve


class SparkVectorIndex:
    """A vector index over a Parquet path (or a registered table name).

    The reference's begin/end/cancel copy-on-write protocol
    (``local_index.py:32-40,80-90``) maps to explicit staging: mutations
    accumulate in a driver-side batch and ``commit()`` writes the touched
    buckets once to a staging directory, then swaps them in per bucket
    (see the module docstring). ``cancel_update`` = drop the batch.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        vector_dim: int | None = None,
        indexed_fields: Mapping[str, T.DataType] | None = None,
        n_buckets: int = DEFAULT_N_BUCKETS,
    ) -> None:
        self.spark = spark
        self.path = path
        self.vector_dim = vector_dim
        self.indexed_fields = dict(indexed_fields or {})
        self.n_buckets = int(n_buckets)
        self._meta_loaded = False
        self._pending: list[dict[str, Any]] = []
        self._pending_deletes: list[str] = []
        self._cached: DataFrame | None = None

    # -- schema ----------------------------------------------------------
    def _schema(self) -> T.StructType:
        fields = list(ITEM_SCHEMA.fields)
        for name, dtype in self.indexed_fields.items():
            fields.append(T.StructField(name, dtype, True))
        return T.StructType(fields)

    def _schema_with_bucket(self) -> T.StructType:
        fields = list(self._schema().fields)
        fields.append(T.StructField(BUCKET_COL, T.IntegerType(), True))
        return T.StructType(fields)

    # -- bucket layout ----------------------------------------------------
    def _bucket_expr(self, id_col: Column | None = None) -> Column:
        """id → partition bucket. ``xxhash64`` is a deterministic Spark
        built-in, so every writer (batch commit, streaming merge_batch,
        document ingest) computes the same placement JVM-side — no Python
        hash round-trip, no driver involvement."""
        self._ensure_meta()
        col = F.col("id") if id_col is None else id_col
        return F.pmod(F.xxhash64(col), F.lit(self.n_buckets)).cast("int")

    def _buckets_of(self, ids: Sequence[str]) -> set[int]:
        """Buckets of known ids in one pass over the list, with no Spark
        job: a projection over an inline ``VALUES`` row folds into a
        local relation, which Catalyst evaluates on the driver."""
        if not ids:
            return set()
        ids_col = F.array(*[F.lit(i) for i in set(ids)])
        row = (
            self.spark.sql("VALUES (0)")
            .select(F.transform(ids_col, lambda i: self._bucket_expr(i)))
            .collect()[0]
        )
        return set(row[0])

    def _buckets_where(self, cond: Column) -> set[int]:
        """Buckets holding rows that match ``cond``: a column-pruned scan
        over the predicate's columns in ONE job. The bucket set is
        gathered by an observed ``collect_set`` (partial sets merge on
        the driver, ≤ n_buckets ints) while the rows go to Spark's
        built-in ``noop`` sink, so no shuffle stage runs."""
        obs = Observation()
        (
            self._raw_items()
            .filter(cond)
            .select(BUCKET_COL)
            .observe(obs, F.collect_set(BUCKET_COL).alias("buckets"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return set(obs.get["buckets"])

    def _write_meta(self) -> None:
        """Pin the layout (``n_buckets``) in a side-file so a reopen with a
        different default can't scatter one id across two buckets. Written
        via the Hadoop FS API — works on any scheme (file/hdfs/s3a), and
        the ``_`` prefix keeps it out of Spark's parquet file listing."""
        fs, jpath = _fs_path(self.spark, f"{self.path}/{META_FILE}")
        out = fs.create(jpath, True)
        out.write(bytearray(json.dumps({"version": 1, "n_buckets": self.n_buckets}), "utf-8"))
        out.close()
        self._meta_loaded = True

    def _ensure_meta(self) -> None:
        """Adopt the table's pinned ``n_buckets`` if a meta file exists."""
        if self._meta_loaded:
            return
        self._meta_loaded = True
        try:
            fs, jpath = _fs_path(self.spark, f"{self.path}/{META_FILE}")
            if not fs.exists(jpath):
                return
            jvm = self.spark.sparkContext._jvm
            reader = jvm.java.io.BufferedReader(
                jvm.java.io.InputStreamReader(fs.open(jpath), "UTF-8")
            )
            chunks = []
            while True:
                line = reader.readLine()
                if line is None:
                    break
                chunks.append(line)
            reader.close()
            meta = json.loads("".join(chunks) or "{}")
            self.n_buckets = int(meta.get("n_buckets", self.n_buckets))
        except Exception:
            pass  # unreadable meta → keep ctor value (fresh table)

    # -- lifecycle (S2, S3) ----------------------------------------------
    def create(self, overwrite: bool = False) -> None:
        """S2: write an empty table with the declared schema and pin the
        bucket layout in the meta side-file."""
        mode = "overwrite" if overwrite else "errorifexists"
        empty = self.spark.createDataFrame([], self._schema()).withColumn(
            BUCKET_COL, F.lit(None).cast("int")
        )
        empty.write.mode(mode).partitionBy(BUCKET_COL).parquet(self.path)
        self._write_meta()
        self._invalidate()

    def delete_index(self) -> None:
        """S3: drop the table (overwrite with nothing → empty dir)."""
        empty = self.spark.createDataFrame([], self._schema()).withColumn(
            BUCKET_COL, F.lit(None).cast("int")
        )
        empty.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(self.path)
        self._write_meta()
        self._invalidate()

    def exists(self) -> bool:
        try:
            self.spark.read.schema(self._schema_with_bucket()).parquet(self.path).limit(1)
            return True
        except Exception:
            return False

    # -- load (S1) --------------------------------------------------------
    def _raw_items(self) -> DataFrame:
        """Items WITH the partition column — the merge path filters on
        ``_bucket`` here so Catalyst prunes untouched directories
        (``PartitionFilters`` in the scan, zero files opened elsewhere)."""
        self._ensure_meta()
        return self.spark.read.schema(self._schema_with_bucket()).parquet(self.path)

    def items(self, use_cache: bool = True) -> DataFrame:
        """S1: the items DataFrame. ``cache()`` is the Spark analog of the
        reference's memoized in-memory index (``local_index.py:161-172``)."""
        if self._cached is not None:
            return self._cached
        df = self._raw_items().drop(BUCKET_COL)
        if use_cache:
            df = df.cache()
            self._cached = df
        return df

    def _invalidate(self) -> None:
        if self._cached is not None:
            self._cached.unpersist()
            self._cached = None

    # -- mutations (D1-D4) ------------------------------------------------
    @staticmethod
    def _norm(vec: Sequence[float]) -> float:
        return float(sum(float(x) * float(x) for x in vec) ** 0.5)

    def _resolved_dim(self) -> int | None:
        """Lazily adopt the index dimension: explicit ctor arg, else the
        dimension of any committed row (one tiny head job, memoized)."""
        if self.vector_dim is None:
            head = self.items().select(F.size("vector").alias("d")).head(1)
            if head:
                self.vector_dim = int(head[0]["d"])
        return self.vector_dim

    def _stage(self, item: Mapping[str, Any]) -> dict[str, Any]:
        vec = [float(x) for x in item["vector"]]
        if self._resolved_dim() is None:
            self.vector_dim = len(vec)  # first vector defines the index dim
        if self.vector_dim is not None and len(vec) != self.vector_dim:
            # Ingest-time dimension check — improvement over the reference,
            # whose dimension is implicit and unchecked (SURVEY.md §1.2).
            raise ValueError(
                f"vector dim {len(vec)} != index dim {self.vector_dim}"
            )
        row = {
            "id": str(item.get("id") or uuid.uuid4()),
            "vector": vec,
            # A1: norm precomputed at write time (``local_index.py:209``).
            "norm": self._norm(vec),
            "metadata": {
                str(k): str(v) for k, v in (item.get("metadata") or {}).items()
            },
        }
        md = item.get("metadata") or {}
        for name in self.indexed_fields:
            row[name] = md.get(name, item.get(name))
        return row

    def insert_item(self, item: Mapping[str, Any]) -> str:
        """D1: stage an insert; duplicate ids rejected at commit."""
        row = self._stage(item)
        self._pending.append({**row, "_op": "insert"})
        return row["id"]

    def upsert_item(self, item: Mapping[str, Any]) -> str:
        """D2: stage an upsert; replaces an existing id at commit."""
        row = self._stage(item)
        self._pending.append({**row, "_op": "upsert"})
        return row["id"]

    def delete_item(self, item_id: str) -> None:
        """D3: stage a delete."""
        self._pending_deletes.append(item_id)

    def cancel_update(self) -> None:
        """D4: discard staged mutations (reference ``cancel_update``)."""
        self._pending.clear()
        self._pending_deletes.clear()

    def _merge(
        self,
        staged: DataFrame | None,
        touched: set[int],
        delete_cond: Column | None = None,
        delete_scope: str = "existing",
    ) -> None:
        """Partition-scoped MERGE — the engine behind every mutation.

        Plain-Parquet MERGE equivalent of a Delta ``MERGE INTO``.
        ``touched`` holds the buckets of the staged ids and of the rows
        ``delete_cond`` may match; the caller computes it. Only those
        buckets are read (``PartitionFilters`` prunes the rest). With
        ``staged`` rows (each carrying an ``_insert`` flag), the union is
        hash-partitioned by ``_bucket`` into ``min(len(touched),
        defaultParallelism)`` partitions — one exchange with an explicit
        count, so AQE cannot coalesce the write into one task — and the
        window-dedup ``row_number() over (partition by _bucket, id order
        by is_new desc) = 1`` (SURVEY.md §2.8 D2) runs on it with no
        second exchange. The result is written ONCE to a staging
        directory (:func:`write_staging`); the same job observes whether
        an id was staged twice, whether a surviving insert met an
        existing id, which buckets changed (a row was deleted or a staged
        row landed there) and which still hold rows. A duplicate, a
        clash, or a merge that changed nothing discards the staging
        write; otherwise the cached items frame is dropped and each
        changed bucket is swapped in or, if it emptied, deleted
        (:func:`swap_in`). Untouched bucket files are never opened for
        read or write.

        ``delete_scope``: ``"existing"`` deletes only pre-existing rows
        (document re-ingest: old chunks match the same ``document_id`` as
        the fresh ones); ``"merged"`` applies the delete after the merge
        (driver ``commit()``: a delete staged alongside an upsert of the
        same id wins).
        """
        if not touched:
            return  # nothing staged, delete matched nothing
        rows = (
            self._raw_items()
            .filter(F.col(BUCKET_COL).isin(*sorted(touched)))
            .withColumn("_new", F.lit(0))
        )
        if staged is None:
            rows = rows.withColumn("_clash", F.lit(False)).withColumn("_dup", F.lit(False))
        else:
            n_parts = min(len(touched), self.spark.sparkContext.defaultParallelism)
            w_id = Window.partitionBy(BUCKET_COL, "id")
            rows = (
                rows.withColumn("_insert", F.lit(False))
                .unionByName(
                    staged.withColumn(BUCKET_COL, self._bucket_expr())
                    .withColumn("_new", F.lit(1))
                )
                # an explicit count, so AQE cannot coalesce the write to
                # one task; the (_bucket, id) window reuses this exchange
                .repartition(n_parts, BUCKET_COL)
                # unique-insert check on the same window pass: an insert
                # whose id group also holds a pre-existing row
                .withColumn(
                    "_clash",
                    F.max("_insert").over(w_id) & (F.min("_new").over(w_id) == 0),
                )
                # an id staged twice (``commit()`` dedupes its own rows)
                .withColumn("_dup", F.sum("_new").over(w_id) > 1)
                .withColumn("_rn", F.row_number().over(w_id.orderBy(F.desc("_new"))))
                .filter(F.col("_rn") == 1)
            )
        drop = F.lit(False)
        if delete_cond is not None:
            # null-safe: a null predicate must not delete the row
            drop = F.coalesce(delete_cond, F.lit(False))
            if delete_scope == "existing":
                drop = drop & (F.col("_new") == 0)
        rows = rows.withColumn("_drop", drop)
        gone, new = F.col("_drop"), F.col("_new") == 1
        obs = Observation()
        out = (
            rows.observe(
                obs,
                F.max("_dup").alias("dup"),
                # a dropped row cannot clash: a delete staged beside an
                # insert of the same id wins
                F.max(F.col("_clash") & ~gone).alias("clash"),
                # a staged row may have displaced a stored one in the
                # window above, so every bucket a staged row lands in
                # counts as changed, even if that row is then deleted
                F.collect_set(F.when(gone | new, F.col(BUCKET_COL))).alias("changed"),
                F.collect_set(F.when(~gone, F.col(BUCKET_COL))).alias("kept"),
            )
            .filter(~gone)
            .select(*self._schema_with_bucket().fieldNames())
        )
        staging = write_staging(out, self.path, partition_col=BUCKET_COL)
        m = obs.get
        if m["dup"]:
            discard_staging(self.spark, staging)
            raise ValueError("merge_batch: duplicate id within batch")
        if m["clash"]:
            discard_staging(self.spark, staging)
            raise ValueError("insert_item: id already exists (unique=True)")
        if not m["changed"]:
            discard_staging(self.spark, staging)
            return
        kept = set(m["kept"])
        self._invalidate()
        swap_in(
            self.spark,
            staging,
            {
                f"{self.path}/{BUCKET_COL}={b}": (
                    f"{staging}/{BUCKET_COL}={b}" if b in kept else None
                )
                for b in m["changed"]
            },
        )

    def commit(self) -> None:
        """D4/S4: apply staged mutations in one partition-scoped MERGE.

        The touched buckets come from the staged and deleted ids alone
        (:meth:`_buckets_of`), so no scan runs before the write. An id
        staged more than once is merged as its LAST staged row; it stays
        an insert (must not exist yet) if any of its staged rows was one.

        Concurrency caveat: plain parquet has no transaction log, so
        this MERGE assumes a SINGLE writer per index (readers are fine —
        untouched bucket files are never rewritten). Two concurrent
        commits can interleave bucket swaps and lose one side's rows.
        For multi-writer deployments put the same bucket layout on
        Delta/Iceberg and route this merge through its MERGE INTO.
        """
        if not self._pending and not self._pending_deletes:
            return
        staged = None
        if self._pending:
            schema = T.StructType(
                self._schema().fields + [T.StructField("_insert", T.BooleanType(), False)]
            )
            inserted = {r["id"] for r in self._pending if r["_op"] == "insert"}
            latest = {r["id"]: r for r in self._pending}  # last staged row wins
            staged = self.spark.createDataFrame(
                [
                    {**{k: v for k, v in r.items() if k != "_op"},
                     "_insert": i in inserted}
                    for i, r in latest.items()
                ],
                schema,
            )
        delete_cond = (
            F.col("id").isin(*self._pending_deletes)
            if self._pending_deletes
            else None
        )
        touched = self._buckets_of(
            [r["id"] for r in self._pending] + self._pending_deletes
        )
        self._merge(staged, touched, delete_cond=delete_cond, delete_scope="merged")
        self.cancel_update()

    def delete_where(self, cond: Column) -> None:
        """Predicate delete (e.g. all chunks of a document): rewrites only
        the buckets containing matching rows."""
        self._merge(None, self._buckets_where(cond), delete_cond=cond)

    def merge_batch(self, df: DataFrame, delete_cond: Column | None = None) -> None:
        """Bulk upsert a DataFrame of items — the distributed twin of
        ``upsert_item``+``commit`` for batches too large to stage on the
        driver, and the sink for streaming ingest
        (:func:`vectra_py_spark.streaming.ingest.stream_upsert` calls
        this per micro-batch).

        ``df`` needs ``id`` and ``vector``; ``norm`` is (re)computed,
        missing schema columns null-fill. A NULL id and vectors of the
        wrong dimension are rejected before anything is written: the
        checkpoint job that pins the batch observes them. Duplicate ids
        within the batch (which row should win is undefined) are caught
        by the merge window (:meth:`_merge`), which discards its staging
        write, so nothing is published either way. ``delete_cond``
        additionally deletes matching PRE-EXISTING rows in the same merge
        (document re-ingest drops the replaced doc's old chunks this way).
        """
        staged = df.withColumn("vector", F.col("vector").cast("array<double>"))
        staged = staged.withColumn("norm", l2_norm(F.col("vector")))
        for f in self._schema().fields:
            if f.name not in staged.columns:
                staged = staged.withColumn(f.name, F.lit(None).cast(f.dataType))
        staged = staged.select(*[f.name for f in self._schema().fields])
        # Pin the batch: the upstream pipeline (possibly split+embed with
        # uuid() ids) runs once, and the validation and the merge see the
        # same ids. The checkpoint job itself observes every check and
        # the staged rows' buckets. The batch is dimension-uniform iff
        # min==max of size(vector), which is exactly what "adopt the
        # first row's dim, then require every row to match it" accepted.
        checked = Observation()
        staged = staged.observe(
            checked,
            F.count_if(F.col("id").isNull()).alias("null_ids"),
            F.min(F.size("vector")).alias("d_min"),
            F.max(F.size("vector")).alias("d_max"),
            F.collect_set(self._bucket_expr()).alias("buckets"),
        ).localCheckpoint(eager=True)
        stats = checked.get
        if stats["null_ids"]:
            raise ValueError("merge_batch: NULL id in batch")
        if stats["d_min"] is not None:  # min/max skip null vectors,
            # matching the old per-row filter's null semantics
            dim = self._resolved_dim()
            if dim is None:
                self.vector_dim = dim = int(stats["d_min"])
            if int(stats["d_min"]) != dim or int(stats["d_max"]) != dim:
                raise ValueError(
                    f"merge_batch: vector dimension != index dim {dim}"
                )
        touched = set(stats["buckets"])
        # the probe cannot add a bucket once the batch covers all of them
        if delete_cond is not None and len(touched) < self.n_buckets:
            touched |= self._buckets_where(delete_cond)
        self._merge(
            staged.withColumn("_insert", F.lit(False)),
            touched,
            delete_cond=delete_cond,
            delete_scope="existing",
        )

    # -- reads (P12-P14, A2) ---------------------------------------------
    def get_item(self, item_id: str) -> DataFrame:
        """P13: point lookup by id."""
        return self.items().filter(F.col("id") == F.lit(item_id)).limit(1)

    def list_items(self) -> DataFrame:
        """P14: all items."""
        return self.items()

    def list_items_by_metadata(self, filter_ast: Mapping[str, Any]) -> DataFrame:
        """P12: full filter scan, no ranking."""
        df = self.items()
        return df.filter(compile_filter(filter_ast, _metadata_resolver(df)))

    def get_index_stats(self) -> dict[str, Any]:
        """A2: ``{version, metadata_config, items}`` analog."""
        return {
            "version": 1,
            "metadata_config": {"indexed": sorted(self.indexed_fields)},
            "items": self.items().count(),
        }

    # -- query (V5, §3.1) -------------------------------------------------
    def query_items(
        self,
        vector: Sequence[float],
        top_k: int,
        filter_ast: Mapping[str, Any] | None = None,
        score_decimals: int | None = None,
    ) -> DataFrame:
        """V5: filter → cosine score → top-k.

        Physical plan (verify with ``.explain``): Parquet scan with pushed
        filter → HOF cosine projection (one parsed expression) →
        ``TakeOrderedAndProject(k)``. The query vector + its norm are plan
        literals (computed once, ``local_index.py:135``). Ties broken by
        id for determinism (the reference's sort is unstable on ties).
        """
        df = self.items()
        if filter_ast:
            df = df.filter(compile_filter(filter_ast, _metadata_resolver(df)))
        score = cosine_to_query("vector", vector, norm_col="norm")
        if score_decimals is not None:
            score = F.round(score, score_decimals)
        return (
            df.withColumn("score", score)
            .orderBy(F.desc("score"), F.asc("id"))
            .limit(top_k)
        )

