"""Index persistence: partitioned Parquet + ``_meta.json`` sidecar.

Reference: pkg/storage (serialize.go:27-73 gob/json+gzip writers,
version.go:8-90 version header with major-must-match compat). Spark
disposition (SURVEY.md §2.4): Parquet IS the binary format
(compression built-in); the version header becomes a
``format_version`` field in ``_meta.json`` with the same compat rule.

Layout on disk (all relative to the index root):
    _meta.json                    {index_type, dim, metric, params, format_version}
    vectors/     (flat, lsh)      parquet
    centroids/   (ivf, ivfpq)     parquet (list_id, centroid)
    assignments/ (ivf)            parquet partitionBy(list_id)  ← nprobe pruning
    codebooks/   (pq, ivfpq)      parquet (m, k, centroid)
    codes/       (pq)             parquet; (ivfpq) partitionBy(list_id)

partitionBy("list_id") is the load-bearing choice: an nprobe search
filters list_id IN (...) and Catalyst prunes the untouched partition
directories at file-listing time — scan cost scales with
nprobe/nlist, not table size (SURVEY.md §4 row 4).

The small matrices (centroids, codebooks) are written and read on the
driver with pyarrow, in the columns and types a Spark write gives, so
no Spark job moves driver-sized data; older Spark-written directories
read the same way. Every Spark-written component has a
``_schema.json`` sidecar in both formats, which ``load_index`` reads
instead of running Spark's schema inference (without one, it infers).
Sidecars are replaced atomically (``_write_json``).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

FORMAT_VERSION = "1.0.0"


def check_version_compat(found: str) -> None:
    """Major must match; minor is backward-compatible
    (version.go:63-90)."""
    cur_major = int(FORMAT_VERSION.split(".")[0])
    try:
        found_major, found_minor = (int(x) for x in found.split(".")[:2])
    except (ValueError, AttributeError) as e:
        raise ValueError(f"unparseable format_version {found!r}") from e
    if found_major != cur_major:
        raise ValueError(
            f"incompatible format_version {found} (current {FORMAT_VERSION}): "
            "major version must match"
        )
    cur_minor = int(FORMAT_VERSION.split(".")[1])
    if found_minor > cur_minor:
        raise ValueError(
            f"format_version {found} is newer than supported {FORMAT_VERSION}"
        )


# ---------------------------------------------------------------------------
# Version migration registry (VersionMigrator parity, version.go:96-126):
# from→to migration functions over on-disk artifacts. A migration takes
# (spark, path, meta) and returns the updated meta dict; migrate_index
# walks the chain until the target version is reached.
# ---------------------------------------------------------------------------

_MIGRATIONS: dict[str, tuple[str, object]] = {}


def register_migration(from_version: str, to_version: str, fn) -> None:
    """Register ``fn(spark, path, meta) -> meta`` migrating an index
    artifact from ``from_version`` to ``to_version``."""
    _MIGRATIONS[from_version] = (to_version, fn)


def migrate_index(spark: SparkSession, path: str, target: str | None = None) -> dict:
    """Walk registered migrations from the artifact's current
    format_version to ``target`` (default: FORMAT_VERSION). Raises if
    no chain reaches the target. Returns the final meta dict."""
    target = target or FORMAT_VERSION
    meta = _read_meta_raw(path)
    seen = set()
    while meta.get("format_version") != target:
        cur = meta.get("format_version")
        if cur in seen:
            raise ValueError(f"migration cycle detected at {cur}")
        seen.add(cur)
        if cur not in _MIGRATIONS:
            raise ValueError(
                f"no migration path from {cur} to {target} for {path}"
            )
        to_version, fn = _MIGRATIONS[cur]
        meta = fn(spark, path, dict(meta))
        meta["format_version"] = to_version
        _write_json(os.path.join(path, "_meta.json"), meta, indent=2)
    return meta


def artifact_size_mb(path: str) -> float:
    """On-disk footprint (MiB) of a saved index artifact — the
    Parquet-era analogue of the reference's MemoryUsageMB
    (stats.go:4-10; SURVEY.md §4 row 13): sum of all files under the
    artifact directory (parquet parts + _meta.json)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total / (1024 * 1024)


def _read_meta_raw(path: str) -> dict:
    with open(f"{path}/_meta.json") as f:
        return json.load(f)


def _write_json(path: str, obj, **dump_kw) -> None:
    """Write ``obj`` as JSON to ``path`` atomically: a sibling ``.tmp``
    file, fsync, then ``os.replace``, so a reader or a crash midway
    sees the previous file or the new one, never a torn one."""
    tmp = f"{path}.tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f, **dump_kw)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):  # the write failed midway
            os.unlink(tmp)


def _write_meta(path: str, meta: dict) -> None:
    os.makedirs(path, exist_ok=True)
    _write_json(os.path.join(path, "_meta.json"),
                {**meta, "format_version": FORMAT_VERSION}, indent=2)


def _read_meta(path: str) -> dict:
    with open(os.path.join(path, "_meta.json")) as f:
        meta = json.load(f)
    check_version_compat(meta.get("format_version", ""))
    return meta


_MATRIX_KEYS = {2: ("list_id",), 3: ("m", "k")}


def _write_matrix(path: str, mat: np.ndarray, fmt: str = "parquet") -> None:
    """Write a small matrix (centroids or codebooks) from the driver,
    one row per leading index, in the columns and types a Spark write
    gave (``list_id int, centroid array<double>`` or ``m int, k int,
    centroid array<double>``). Replaces the whole directory, so no part
    file of an earlier save survives to be read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    mat = np.asarray(mat, dtype=np.float64)
    keys = _MATRIX_KEYS[mat.ndim]
    idx = np.indices(mat.shape[:-1]).reshape(len(keys), -1).astype(np.int32)
    rows = mat.reshape(-1, mat.shape[-1])
    offsets = np.arange(0, rows.size + 1, rows.shape[1], dtype=np.int32)
    tbl = pa.table({
        **{k: pa.array(col) for k, col in zip(keys, idx)},
        "centroid": pa.ListArray.from_arrays(offsets, rows.ravel()),
    })
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    if fmt == "json":
        with open(os.path.join(path, "part-00000.json"), "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in tbl.to_pylist())
    else:
        # dictionary pages only add bytes to a matrix of distinct
        # doubles (128×128: 161.5 KB with them, 132.6 KB without)
        pq.write_table(tbl, os.path.join(path, "part-00000.parquet"),
                       use_dictionary=False)


def _read_matrix(path: str, shape: tuple, fmt: str = "parquet") -> np.ndarray:
    """Read a small matrix written by ``_write_matrix``, or by an older
    Spark write of the same rows, on the driver. Files whose names
    start with ``_`` or ``.`` (``_SUCCESS``, ``.crc``) are skipped."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gofaiss_spark.operators.local_serve import _list_matrix

    if fmt == "json":
        recs = []
        for name in sorted(os.listdir(path)):
            if not name.startswith(("_", ".")):
                with open(os.path.join(path, name)) as f:
                    recs += map(json.loads, filter(str.strip, f))
        tbl = pa.Table.from_pylist(recs)
    else:
        tbl = pq.read_table(path)
    out = np.zeros(shape, dtype=np.float64)
    at = tuple(tbl.column(k).to_numpy() for k in _MATRIX_KEYS[len(shape)])
    out[at] = _list_matrix(tbl.column("centroid"), shape[-1], np.float64)
    return out


def _param(v):
    """A ``_meta.json`` param: a scalar as is, an array as floats."""
    return [float(x) for x in v] if np.ndim(v) else v


def _matrix_shape(name: str, kw: dict) -> tuple:
    if name == "centroids":
        return (kw["nlist"], kw["dim"])
    return (kw["m"], 1 << kw["nbits"], kw["dim"] // kw["m"])  # codebooks


SCHEMA_FILE = "_schema.json"


def _write_df(df, path: str, fmt: str, partition_by: str | None = None) -> None:
    """Write one Spark component and its ``_schema.json`` sidecar
    (underscore prefix → ignored by Spark's hidden-file filter), which
    keeps exact types for the JSON round-trip and lets ``_read_df``
    skip schema inference."""
    if partition_by:
        # Cluster rows by the partition key BEFORE the partitioned
        # write (optimization r12; guide §6 — coalesce on write, aim
        # for few well-sized files): an unclustered partitionBy makes
        # EVERY input task open one file per key it holds — W tasks ×
        # nlist keys ≈ W·nlist tiny files per artifact (measured: the
        # ivf_save bench row spent its 4 s on file create/commit, not
        # bytes). Hash-distributing by the key first writes one file
        # per key — the Iceberg write.distribution-mode=hash shape.
        df = df.repartition(F.col(partition_by))
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    getattr(w, fmt)(path)
    _write_json(os.path.join(path, SCHEMA_FILE), df.schema.jsonValue())


def _read_schema(path: str):
    """The schema a component's ``_schema.json`` records, or None."""
    try:
        with open(os.path.join(path, SCHEMA_FILE)) as f:
            return StructType.fromJson(json.load(f))
    except FileNotFoundError:
        return None


def _read_df(spark: SparkSession, path: str, fmt: str = "parquet"):
    """Read one Spark component with the schema its ``_schema.json``
    records (no inference job); without the sidecar, infer."""
    schema = _read_schema(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return getattr(reader, fmt)(path)


def _drop_stale_schema(path: str, schema) -> None:
    """After an append of rows of ``schema`` to the component at
    ``path``, drop its ``_schema.json`` unless it records the same
    columns and types, so it never disagrees with the files."""
    kept = _read_schema(path)
    if kept is not None and kept.simpleString() != schema.simpleString():
        os.unlink(os.path.join(path, SCHEMA_FILE))


def export_index_json(index, path: str) -> None:
    """Human-readable JSON debug export of an index artifact —
    line-delimited JSON per component, same directory layout as the
    Parquet format (SaveToFileJSON parity, pkg/storage/json.go:15-56;
    cross-format round-trip mirrors serialize_test.go:300-370).
    ``load_index`` reads it back via the ``format`` field in
    _meta.json."""
    save_index(index, path, fmt="json")


def save_index(index, path: str, fmt: str = "parquet") -> None:
    """Persist any index artifact (Save parity: flat.go:123-147,
    ivfpq.go:367-470 — but Parquet, not gob; ``fmt="json"`` gives the
    debug export of pkg/storage/json.go). A tabular kind writes what
    its ``kinds`` record names: the meta params, one matrix table per
    quantizer matrix and its rows table, partitioned by list_id for the
    cell kinds."""
    from gofaiss_spark.operators.hnsw import (
        HnswIndex,
        HnswRoutedIndex,
        HnswShardedIndex,
    )
    from gofaiss_spark.operators.kinds import kind_of
    from gofaiss_spark.operators.lsh import LshIndex
    from gofaiss_spark.operators.opq import OpqIndex
    from gofaiss_spark.operators.pca import PcaModel
    from gofaiss_spark.operators.retrieval import TextIndex, save_text_index

    if fmt not in ("parquet", "json"):
        raise ValueError(f"unknown artifact format {fmt!r}")

    if isinstance(index, TextIndex):
        # bucketed-postings layout + sidecar handled by the retrieval
        # module (partition pruning contract documented there); the
        # layout is parquet-only — honoring fmt="json" would silently
        # drop the bucket-pruning contract, so reject it instead
        if fmt != "parquet":
            raise ValueError(
                f"text indexes persist as bucketed parquet only, got fmt={fmt!r}"
            )
        save_text_index(index, path)
        return

    def wm(meta: dict) -> None:
        _write_meta(path, {**meta, "format": fmt})

    kd = kind_of(index)
    if kd is not None:
        meta = {"index_type": kd.name, "dim": index.dim,
                "metric": getattr(index, "metric", "l2")}
        if kd.params:  # Flat has no params key
            meta["params"] = {p: _param(getattr(index, p)) for p in kd.params}
        wm(meta)
        for name in kd.matrices:
            _write_matrix(f"{path}/{name}", getattr(index, name), fmt)
        _write_df(getattr(index, kd.table), f"{path}/{kd.table}", fmt,
                  "list_id" if kd.cell else None)
    elif isinstance(index, OpqIndex):
        wm(
            {
                "index_type": "opq",
                "dim": index.dim,
                "metric": "l2",
                "params": {
                    "m": index.m,
                    "nbits": index.nbits,
                    # ADVICE r11: persist the rotate="auto" decision
                    # so stats() after a save/load round trip reports
                    # the same rotation_trained/spectral_energy the
                    # live index did (a skipped rotation must not
                    # come back as "trained")
                    "rotation_trained": bool(index.rotation_trained),
                    "spectral_energy": index.spectral_energy,
                },
            }
        )
        spark = index.pq.codes.sparkSession
        rot_df = spark.createDataFrame(
            [(int(i), [float(x) for x in row]) for i, row in enumerate(index.rotation)],
            schema="i int, row array<double>",
        )
        _write_df(rot_df, f"{path}/rotation", fmt)
        _write_matrix(f"{path}/codebooks", index.pq.codebooks, fmt)
        _write_df(index.pq.codes, f"{path}/codes", fmt)
    elif isinstance(index, LshIndex):
        wm(
            {
                "index_type": "lsh",
                "dim": index.dim,
                "metric": index.metric,
                "params": {
                    "bucket_length": index.bucket_length,
                    "num_hash_tables": index.num_hash_tables,
                    "seed": index.seed,
                    "projections": [[float(x) for x in r] for r in index.projections],
                    "offsets": [float(x) for x in index.offsets],
                },
            }
        )
        # partitionBy("t"): a search joins one bucket table at a time;
        # vectors are stored ONCE, not per table (the ×L payload copy
        # is the artifact-size killer at scale)
        _write_df(index.buckets, f"{path}/buckets", fmt, "t")
        _write_df(index.vectors, f"{path}/vectors", fmt)
    elif isinstance(index, PcaModel):
        # components are k×dim floats (a few KB) — they ride in the
        # meta like the LSH projections; no table to write
        wm(
            {
                "index_type": "pca",
                "dim": index.dim,
                "metric": "l2",
                "params": {
                    "k": index.k,
                    "components": [
                        [float(x) for x in r] for r in index.components
                    ],
                    "explained_variance": [
                        float(x) for x in index.explained_variance
                    ],
                },
            }
        )
    elif isinstance(index, HnswShardedIndex):
        # per-shard graph blobs: the table IS the index (one pickled
        # graph per shard row, bounded by rows_per_shard at build);
        # partitionBy("shard_id") so a future selective-shard serve
        # can prune. JSON export is skipped for the binary blob
        # payload — meta + shard manifest only.
        dims = index.blobs.agg(F.max("dim").alias("d")).collect()[0]["d"]
        wm(
            {
                "index_type": "hnsw_sharded",
                "dim": int(dims or 0),
                "metric": index.metric,
                "params": {
                    "m": index.m,
                    "ef_construction": index.ef_construction,
                    "ef_search": index.ef_search,
                    "num_shards": index.num_shards,
                },
            }
        )
        _write_df(index.blobs, f"{path}/shards", "parquet", "shard_id")
    elif isinstance(index, HnswRoutedIndex):
        # routed variant: hnsw_sharded's blob table plus the coarse
        # centroid routing table (IVF-style); shards partitioned by
        # shard_id so a routed serve over the persisted artifact can
        # partition-prune to the probed cells.
        dims = index.blobs.agg(F.max("dim").alias("d")).collect()[0]["d"]
        wm(
            {
                "index_type": "hnsw_routed",
                "dim": int(dims or 0),
                "metric": index.metric,
                "params": {
                    "m": index.m,
                    "ef_construction": index.ef_construction,
                    "ef_search": index.ef_search,
                    "nlist": index.nlist,
                    "default_nprobe": index.default_nprobe,
                },
            }
        )
        _write_matrix(f"{path}/centroids", index.centroids)
        _write_df(index.blobs, f"{path}/shards", "parquet", "shard_id")
    else:
        if not isinstance(index, HnswIndex):
            raise TypeError(f"cannot save index of type {type(index).__name__}")
        g = index.graph
        spark = index.spark
        wm(
            {
                "index_type": "hnsw",
                "dim": g.dim,
                "metric": g.metric,
                "params": {
                    "m": g.m,
                    "ef_construction": g.ef_construction,
                    "ef_search": index.ef_search,
                    "seed": index.seed,
                    "entry_point_id": int(g.ids[g.entry_point])
                    if g.entry_point >= 0
                    else -1,
                    "max_level": g.max_level,
                },
            }
        )
        nodes = spark.createDataFrame(
            [
                (int(g.ids[i]), int(g.levels[i]), [float(x) for x in g.vecs[i]])
                for i in range(g.n())
                if g.levels[i] >= 0
            ],
            schema="id long, level int, vec array<float>",
        )
        _write_df(nodes, f"{path}/nodes", fmt)
        _write_df(index.edges_df(spark), f"{path}/edges", fmt)


def load_index(spark: SparkSession, path: str):
    """Load an index artifact by its ``_meta.json`` index_type — the
    NewSearcher/detectIndexType analogue (search.go:42-53, :193-208),
    but dispatching on declared metadata instead of a type switch."""
    from gofaiss_spark.operators.hnsw import (
        MAX_LEVEL_CAP,
        HnswGraph,
        HnswIndex,
        HnswRoutedIndex,
        HnswShardedIndex,
    )
    from gofaiss_spark.operators.kinds import KINDS, fill
    from gofaiss_spark.operators.lsh import LshIndex
    from gofaiss_spark.operators.opq import OpqIndex
    from gofaiss_spark.operators.pca import PcaModel
    from gofaiss_spark.operators.pq import PqIndex
    from gofaiss_spark.operators.retrieval import load_text_index

    meta = _read_meta(path)
    itype = meta["index_type"]
    if itype == "text_bm25":
        return load_text_index(spark, path)
    dim = int(meta["dim"])
    fmt = meta.get("format", "parquet")

    def rd(name: str):
        return _read_df(spark, f"{path}/{name}", fmt)

    kd = KINDS.get(itype)
    if kd is not None:
        kw = {"metric": meta["metric"], "dim": dim, kd.table: rd(kd.table),
              # a partitionBy("list_id") artifact's rows arrive
              # list-contiguous: no re-shuffle for the code cell kinds
              "colocated": True}
        for name in kd.params:
            v = meta["params"][name]
            kw[name] = (np.asarray(v, dtype=np.float64)
                        if isinstance(v, list) else int(v))
        for name in kd.matrices:
            kw[name] = _read_matrix(f"{path}/{name}", _matrix_shape(name, kw),
                                    fmt)
        return fill(kd.index, kw)
    if itype == "opq":
        m = int(meta["params"]["m"])
        nbits = int(meta["params"]["nbits"])
        cb = _read_matrix(f"{path}/codebooks", (m, 1 << nbits, dim // m), fmt)
        rot = np.zeros((dim, dim), dtype=np.float64)
        for r in rd("rotation").collect():
            rot[r.i] = np.asarray(r.row)
        pq = PqIndex(dim=dim, m=m, nbits=nbits, codebooks=cb, codes=rd("codes"))
        # pre-r12 artifacts lack the two fields: derive
        # rotation_trained from the matrix itself (identity ⇔ the
        # auto gate skipped rotation) — the ADVICE r11 fallback
        se = meta["params"].get("spectral_energy")
        rt = meta["params"].get(
            "rotation_trained", not np.allclose(rot, np.eye(dim)))
        return OpqIndex(dim=dim, m=m, nbits=nbits, rotation=rot, pq=pq,
                        rotation_trained=bool(rt),
                        spectral_energy=se)
    if itype == "lsh":
        p = meta["params"]
        return LshIndex(
            metric=meta["metric"],
            dim=dim,
            bucket_length=float(p["bucket_length"]),
            num_hash_tables=int(p["num_hash_tables"]),
            seed=int(p["seed"]),
            projections=np.asarray(p["projections"], dtype=np.float64),
            offsets=np.asarray(p["offsets"], dtype=np.float64),
            buckets=rd("buckets"),
            vectors=rd("vectors"),
        )
    if itype == "pca":
        p = meta["params"]
        return PcaModel(
            dim=dim,
            k=int(p["k"]),
            components=np.asarray(p["components"], dtype=np.float64),
            explained_variance=np.asarray(
                p["explained_variance"], dtype=np.float64
            ),
        )
    if itype == "hnsw":
        p = meta["params"]
        rows = rd("nodes").toPandas()
        ids = rows["id"].to_numpy(dtype=np.int64)
        vecs = np.stack(rows["vec"].to_numpy()).astype(np.float32)
        levels = rows["level"].to_numpy(dtype=np.int32)
        idx_of = {int(v): i for i, v in enumerate(ids)}
        g = HnswGraph(
            metric=meta["metric"],
            dim=dim,
            m=int(p["m"]),
            ef_construction=int(p["ef_construction"]),
            vecs=vecs,
            ids=ids,
            levels=levels,
            edges=[dict() for _ in range(MAX_LEVEL_CAP + 1)],
            entry_point=idx_of.get(int(p["entry_point_id"]), -1),
            max_level=int(p["max_level"]),
        )
        by_key: dict[tuple[int, int], list[int]] = {}
        for r in rd("edges").collect():
            by_key.setdefault((r.level, idx_of[r.src]), []).append(idx_of[r.dst])
        for i in range(len(ids)):
            for lvl in range(int(levels[i]) + 1):
                g.edges[lvl][i] = np.asarray(
                    by_key.get((lvl, i), []), dtype=np.int32
                )
        return HnswIndex(
            graph=g, ef_search=int(p["ef_search"]), seed=int(p["seed"]), spark=spark
        )
    if itype == "hnsw_sharded":
        p = meta["params"]
        return HnswShardedIndex(
            blobs=_read_df(spark, f"{path}/shards"),
            metric=meta["metric"],
            m=int(p["m"]),
            ef_construction=int(p["ef_construction"]),
            num_shards=int(p["num_shards"]),
            ef_search=int(p["ef_search"]),
            spark=spark,
        )
    if itype == "hnsw_routed":
        p = meta["params"]
        nlist = int(p["nlist"])
        cents = _read_matrix(f"{path}/centroids", (nlist, dim))
        return HnswRoutedIndex(
            blobs=_read_df(spark, f"{path}/shards"),
            centroids=cents,
            metric=meta["metric"],
            m=int(p["m"]),
            ef_construction=int(p["ef_construction"]),
            nlist=nlist,
            ef_search=int(p["ef_search"]),
            default_nprobe=int(p["default_nprobe"]),
            spark=spark,
        )
    raise ValueError(f"unknown index_type {itype!r} in {path}/_meta.json")


# ---------------------------------------------------------------------------
# artifact maintenance: compaction + persisted remove
# ---------------------------------------------------------------------------

#: the other kinds' (data tables, partitioned-by-list_id tables)
_DATA_TABLES: dict[str, tuple[list[str], list[str]]] = {
    "opq": (["codes", "rotation"], []),
    "lsh": (["vectors", "buckets"], []),
}


def _data_tables(itype: str) -> tuple[list[str], list[str]]:
    """(data tables, partitioned-by-list_id tables) of an artifact
    type; a type whose rows cannot be rewritten raises, so a remove or
    a compact never reports success having done nothing."""
    from gofaiss_spark.operators.kinds import KINDS

    kd = KINDS.get(itype)
    if kd is not None:
        return [kd.table], [kd.table] if kd.cell else []
    if itype not in _DATA_TABLES:
        raise ValueError(
            f"remove and compact do not support {itype!r} artifacts")
    return _DATA_TABLES[itype]


def _parquet_files(path: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        out.extend(
            os.path.join(root, f) for f in files if f.endswith(".parquet")
        )
    return out


def _swap_dir(tmp: str, dst: str) -> None:
    """Replace ``dst`` with ``tmp`` (local-FS artifact layout; on a
    real lake this is the table format's commit — Iceberg/Delta
    rewrite-files, or a HDFS rename)."""
    old = dst + ".old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(dst, old)
    os.rename(tmp, dst)
    shutil.rmtree(old, ignore_errors=True)


def compact_index(
    spark: SparkSession, path: str, target_rows_per_file: int = 1_000_000
) -> dict:
    """Compact a saved artifact's data tables: rewrite many small
    files (the inevitable residue of streaming micro-batch appends —
    one file per list per batch) into few balanced ones, preserving
    the ``partitionBy(list_id)`` layout that nprobe pruning needs.

    Partitioned tables are rewritten with ``repartition("list_id")``
    — hash-clustered so each inverted list lands contiguous in one
    task → one file per list (the ``colocated`` fast path that skips
    the per-partition ADC rebuild at search time). Unpartitioned
    tables coalesce to ``ceil(rows / target_rows_per_file)`` files.
    Readers are unaffected semantically: same rows, same schema, same
    partition directories; search results are byte-identical (gated
    in tests). Returns {table: {files_before, files_after, rows}}.
    """
    meta = _read_meta(path)
    tables, partitioned = _data_tables(meta["index_type"])
    report: dict = {}
    for name in tables:
        tdir = f"{path}/{name}"
        before = len(_parquet_files(tdir))
        df = _read_df(spark, tdir)
        rows = df.count()
        tmp = f"{path}/.{name}.compact"
        if name in partitioned:
            _write_df(df, tmp, "parquet", "list_id")
        else:
            n_files = max(1, -(-rows // target_rows_per_file))
            _write_df(df.coalesce(n_files), tmp, "parquet")
        _swap_dir(tmp, tdir)
        report[name] = {
            "files_before": before,
            "files_after": len(_parquet_files(tdir)),
            "rows": rows,
        }
    return report


def remove_from_index(spark: SparkSession, path: str, ids) -> int:
    """Row-level delete on a SAVED artifact (the reference errors
    "remove not supported" for IVF, ivf.go:176-178; our in-memory
    ``api.remove`` anti-joins — this is the persisted twin).

    For list-partitioned tables the rewrite is PARTITION-PRUNED: the
    ids are first located (one pruned-column scan of (id, list_id)),
    then ONLY the affected list directories are rewritten and
    atomically swapped; untouched lists keep their files — at
    nlist=65k and a handful of deletes, that is a few directories,
    not a table rewrite. Emptied lists have their directories
    removed outright (the case dynamic partition overwrite silently
    skips). Unpartitioned tables rewrite wholesale. Returns the
    number of rows removed from the primary data table.
    """
    if not isinstance(ids, (list, tuple)):
        ids = [r[0] for r in ids.collect()]
    ids = [int(i) for i in ids]
    meta = _read_meta(path)
    tables, partitioned = _data_tables(meta["index_type"])
    removed = 0
    for name in tables:
        primary = name == tables[0]
        tdir = f"{path}/{name}"
        df = _read_df(spark, tdir)
        if "id" not in df.columns:
            continue  # not keyed by row id (OPQ's rotation: i, row)
        hit = F.col("id").isin(ids)
        if name in partitioned:
            affected = [
                r["list_id"]
                for r in df.filter(hit).select("list_id").distinct().collect()
            ]
            if not affected:
                continue
            sub = df.filter(F.col("list_id").isin(affected))
            if primary:
                removed = sub.filter(hit).count()
            keep = sub.filter(~hit)
            tmp = f"{path}/.{name}.remove"
            # the rewritten lists keep the table's schema, so its
            # ``_schema.json`` stays true
            _write_df(keep, tmp, "parquet", "list_id")
            for lid in affected:
                old = f"{tdir}/list_id={lid}"
                new = f"{tmp}/list_id={lid}"
                shutil.rmtree(old, ignore_errors=True)
                if os.path.isdir(new):
                    os.rename(new, old)
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            n = df.filter(hit).count()
            if not n:
                continue
            if primary:
                removed = n
            tmp = f"{path}/.{name}.remove"
            _write_df(df.filter(~hit), tmp, "parquet")
            _swap_dir(tmp, tdir)
    return removed
