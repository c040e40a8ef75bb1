"""IVF-style approximate nearest neighbor: k-means coarse quantizer +
multi-probe search.

The inverted-file (IVF) recipe behind most production vector indexes:
  1. TRAIN: k-means over (a sample of) the corpus -> k centroids.
  2. ASSIGN: each vector joins its nearest centroid's posting list —
     one shuffle on the cluster id; lists are disjoint partitions.
  3. SEARCH: a probe scores only the `nprobe` clusters whose centroids
     are nearest — work per probe drops from O(N·d) to
     O(nprobe · N/k · d) plus the k-centroid scan.

Spark mapping: MLlib KMeans (seeded) for step 1; `model.transform`
for step 2; step 3 broadcasts the (tiny) centroid table, picks the
probe's nprobe clusters driver-side, and the candidate scan is an
equi-join on cluster id — never a cross product.

An IVF index is built ONCE and searched many times — at 100 TB,
re-fitting the quantizer per query would dwarf the search itself. So
build and search are split: :func:`build_or_load_ivf` persists the
posting lists PARTITIONED BY cluster id (a search's
``cluster IN (...)`` filter becomes partition pruning — only the
probed lists' files are read) plus the centroid table, keyed by the
source file's identity; :func:`ivf_search` runs against the prebuilt
index. :func:`build_ivf` stays as the in-memory path for tests.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid
from dataclasses import dataclass

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from target_iceberg_spark.bounded import bounded_collect
from target_iceberg_spark.cache import cache_root
from target_iceberg_spark.functions.vectors import cosine


# quantizer-training sample target: ~2^10 points per centroid at k=16;
# past this, more training data barely moves a COARSE quantizer but the
# fit cost keeps growing linearly (at 100 TB, fitting on the full corpus
# would dominate the build by orders of magnitude)
TRAIN_SAMPLE_ROWS = 20_000


def build_ivf(emb: DataFrame, vec_col: str = "embedding", k: int = 16, seed: int = 42):
    """Fit the coarse quantizer and return (assigned_df, centroids):
    assigned_df = emb + `cluster` column; centroids = ndarray [k, d].

    The k-means fit runs on a bounded deterministic sample
    (~TRAIN_SAMPLE_ROWS); assignment then covers the full corpus via
    one `model.transform` pass — the standard IVF build split."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    with_vec = emb.withColumn("_vec", array_to_vector(F.col(vec_col).cast("array<double>")))
    n = with_vec.count()
    train = (
        with_vec.sample(fraction=min(1.0, TRAIN_SAMPLE_ROWS / n), seed=seed)
        if n > TRAIN_SAMPLE_ROWS
        else with_vec
    )
    # Coarse quantizer, not a clustering result: a few Lloyd iterations
    # with random init partition space well enough for posting lists,
    # at a fraction of the default 20-iteration k-means|| cost.
    model = KMeans(
        k=k,
        seed=seed,
        maxIter=5,
        initMode="random",
        featuresCol="_vec",
        predictionCol="cluster",
    ).fit(train)
    assigned = model.transform(with_vec).drop("_vec")
    centroids = np.vstack([np.asarray(c) for c in model.clusterCenters()])
    return assigned, centroids


@dataclass
class IVFIndex:
    """A prebuilt IVF index: posting lists (DataFrame with a `cluster`
    column, cluster-partitioned when loaded from disk) + centroids."""

    postings: DataFrame
    centroids: np.ndarray


def corpus_fingerprint(source: str) -> str:
    """Content identity of the corpus at ``source`` (file or directory
    of part files): md5 over every data file's bytes, folded in sorted
    relative-path order so part-file enumeration order never matters.

    This is the engine-portable fallback key. On an Iceberg table the
    right key is the table's current SNAPSHOT ID — O(1) from metadata,
    exact, and already content-addressed; pass it via ``corpus_key`` in
    :func:`index_cache_path`. Hashing bytes is O(corpus) but runs only
    on cache lookup-or-build, not per search, and replaces the previous
    size+mtime key, which went stale-silently under touch/copy and
    differed per machine."""
    digest = hashlib.md5()
    source = os.path.abspath(source)
    if os.path.isdir(source):
        files = sorted(
            os.path.join(dp, f)
            for dp, _, fs in os.walk(source)
            for f in fs
            if not f.startswith(("_", "."))
        )
    else:
        files = [source]
    for path in files:
        digest.update(os.path.relpath(path, source).encode())
        with open(path, "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                digest.update(chunk)
    return digest.hexdigest()[:16]


def index_cache_path(
    source_file: str,
    vec_col: str,
    k: int,
    seed: int,
    corpus_key: str | None = None,
) -> str:
    """Deterministic location for the index built over one corpus,
    keyed by corpus CONTENT (or a caller-supplied ``corpus_key``, e.g.
    an Iceberg snapshot id) plus the build parameters — a regenerated
    corpus or changed quantizer invalidates the cache on any machine."""
    fp = corpus_key if corpus_key is not None else corpus_fingerprint(source_file)
    key = hashlib.md5(f"{fp}|{vec_col}|{k}|{seed}".encode()).hexdigest()[:16]
    return os.path.join(cache_root("ivf"), key)


def _prune_stale_indexes(keep_path: str, source: str) -> None:
    """Drop sibling index dirs built from the same source path but a
    different (stale) content key, so regenerated corpora don't
    accumulate dead indexes without bound."""
    root = os.path.dirname(keep_path)
    for name in os.listdir(root):
        path = os.path.join(root, name)
        if path == keep_path or not os.path.isdir(path):
            continue
        meta = os.path.join(path, "_META")
        try:
            if os.path.exists(meta) and open(meta).read().strip() == source:
                shutil.rmtree(path, ignore_errors=True)
        except OSError:
            pass


def build_or_load_ivf(
    spark: SparkSession,
    emb: DataFrame,
    index_path: str,
    vec_col: str = "embedding",
    k: int = 16,
    seed: int = 42,
    source: str | None = None,
) -> IVFIndex:
    """Load the persisted index at ``index_path``, building it first if
    absent. The build writes posting lists partitioned by cluster id
    (searches prune to the probed clusters' files) and the centroid
    table, staged to a temp dir + atomic rename so concurrent builders
    never expose a half-written index. Pass ``source`` (the corpus path
    the index was built from) to record provenance in ``_META`` and
    prune stale sibling indexes of the same corpus after a rebuild."""
    marker = os.path.join(index_path, "_BUILT")
    if not os.path.exists(marker):
        assigned, centroids = build_ivf(emb, vec_col=vec_col, k=k, seed=seed)
        stage = f"{index_path}__stage_{uuid.uuid4().hex[:8]}"
        try:
            # shuffle to one partition per cluster first: otherwise every
            # write task emits a file into every cluster directory
            # (tasks x k tiny files); this yields k well-sized files
            assigned.repartition(k, "cluster").write.partitionBy("cluster").parquet(
                os.path.join(stage, "postings")
            )
            spark.createDataFrame(
                [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
                "cluster int, centroid array<double>",
            ).coalesce(1).write.parquet(os.path.join(stage, "centroids"))
            if source is not None:
                with open(os.path.join(stage, "_META"), "w") as fh:
                    fh.write(os.path.abspath(source))
            open(os.path.join(stage, "_BUILT"), "w").close()
            os.makedirs(os.path.dirname(index_path), exist_ok=True)
            try:
                os.rename(stage, index_path)
            except OSError:
                pass  # a concurrent builder won the rename; use theirs
        finally:
            if os.path.isdir(stage):
                shutil.rmtree(stage, ignore_errors=True)
        if source is not None:
            _prune_stale_indexes(index_path, os.path.abspath(source))
    rows = bounded_collect(
        spark.read.parquet(os.path.join(index_path, "centroids")),
        cap=65_536,
        why="persisted IVF centroid table (k clusters)",
        structural=False,
    )
    centroids = np.vstack(
        [np.asarray(r["centroid"]) for r in sorted(rows, key=lambda r: r["cluster"])]
    )
    postings = spark.read.parquet(os.path.join(index_path, "postings"))
    return IVFIndex(postings=postings, centroids=centroids)


def ivf_search(
    assigned: DataFrame,
    centroids: np.ndarray,
    probe_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
    top_k: int = 5,
) -> DataFrame:
    """Score only the nprobe nearest clusters for one probe vector."""
    probe = np.asarray(probe_vec, dtype="float64")
    dists = np.linalg.norm(centroids - probe, axis=1)
    clusters = [int(c) for c in np.argsort(dists)[:nprobe]]
    probe_lit = F.array(*[F.lit(float(x)) for x in probe])
    return (
        assigned.where(F.col("cluster").isin(clusters))
        .select(
            id_col,
            "cluster",
            F.round(cosine(F.col(vec_col), probe_lit), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(top_k)
    )
