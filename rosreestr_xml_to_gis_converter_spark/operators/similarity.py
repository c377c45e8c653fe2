"""Embedding similarity search (ANN) over an ``array<float>`` column.

Exactness discipline: embeddings are quantized to integer-valued doubles
(``round(x * 1000)``) before any reduction, so dot products and norms are
exact integers in IEEE doubles (< 2^53) — order-independent, engine-
independent, and oracle-comparable bitwise.  The final cosine is a single
division + sqrt with fixed operand order.  The numpy sign-LSH kernel
repeats the Column arithmetic op for op (HALF_UP rounding, sums in
dimension order from 0.0, NaN above every number), so it stays
bit-identical to the Column forms even where values are not exact.

* ``cosine_topk``   — brute-force top-k: broadcast the query set, score
  with higher-order array functions (JVM, codegen), rank with a window.
  The correct baseline and the verifier for the bucketed path.
* ``lsh_topk``      — sign-LSH (random hyperplanes): deterministic planes
  from a seed, signature = packed sign bits, candidates restricted to
  the query's bucket and its one-bit neighbours, exact re-rank.  The
  query side is collected and broadcast as a sorted probe index; the
  corpus is signed, probed and scored in one numpy ``mapInArrow``
  stage, and Catalyst dedups and ranks the pairs.  Trades recall for a
  ~bucket-count fan-in reduction; recall is measured in tests against
  ``cosine_topk``.
* ``embedding_near_dup_pairs`` — the same numpy signature in a
  ``mapInArrow`` stage, then the banded self-join the SimHash and pHash
  operators use (``dedupe._band_pairs``), verifying the exact cosine
  before the pair dedup.
* ``ivf_topk``      — IVF (inverted-file) ANN: a k-means coarse quantizer
  (pyspark.ml, JVM-distributed Lloyd iterations) partitions the corpus
  into cells; each query probes its ``nprobe`` nearest cells and exact
  re-ranks inside them.  Cell assignment and probe selection are pure
  Column arithmetic over the (small, quantized) centroid literal array —
  the index scan is an equi-join on ``cell``, the same
  shuffle-once-then-prune shape as the spatial join.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from rosreestr_xml_to_gis_converter_spark.index.grid import (
    cell_list_spans,
    cell_lists,
    expand_spans,
)
from rosreestr_xml_to_gis_converter_spark.operators.dedupe import (
    _band_pairs,
    _banded_chunks,
    spread_input_by,
)
from rosreestr_xml_to_gis_converter_spark.operators.spatial_join import _PAIRS_PER_PASS

SCALE = 1000.0


def _quantized(v: Column) -> Column:
    return F.transform(v, lambda x: F.round(x.cast("double") * F.lit(SCALE)))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, t: acc + t
    )


def cosine_scores(
    emb: DataFrame, queries: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """All (query, candidate) cosine scores; queries broadcast.

    The candidate side is spread first (guide §2.5): a
    single-row-group embeddings parquet hands every vector to one scan
    task, serializing the |queries| x dim dot products per row; the
    size-gated repartition costs a tiny exchange and runs them on all
    cores."""
    emb = spread_input_by(emb, id_col)
    e = emb.select(
        F.col(id_col).alias("cand_id"), _quantized(F.col(vec_col)).alias("qv")
    ).withColumn("qn", _dot(F.col("qv"), F.col("qv")))
    q = queries.select(
        F.col(id_col).alias("query_id"), _quantized(F.col(vec_col)).alias("qqv")
    ).withColumn("qqn", _dot(F.col("qqv"), F.col("qqv")))
    pairs = e.crossJoin(F.broadcast(q)).filter(F.col("cand_id") != F.col("query_id"))
    cos = _dot(F.col("qv"), F.col("qqv")) / F.sqrt(F.col("qn") * F.col("qqn"))
    return pairs.select("query_id", "cand_id", cos.alias("cosine"))


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id").asc())
    return (
        cosine_scores(emb, queries, id_col, vec_col)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "rank", "cosine")
    )


def _planes(seed: int, n_planes: int, dim: int) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((n_planes, dim))


# ---------------------------------------------------------------------------
# numpy side of sign-LSH: bit-identical to Spark evaluating the same
# arithmetic as Columns (``_quantized``, ``_dot``, a ``zip_with`` /
# ``aggregate`` projection).  Every sum runs sequentially in dimension order
# from 0.0, as ``aggregate`` does; ``@`` and ``.sum()`` sum pairwise, which
# differs once values hold inf/NaN or pass 2^53.
# ---------------------------------------------------------------------------


def _unpack(col) -> tuple:
    """An Arrow ``list<float|double>`` column as ``(flat, start, length,
    ok)``: float64 values with one trailing 0.0 pad slot, each row's
    offset and length into them, and ``ok`` = non-null with no null
    element."""
    import pyarrow as pa

    col = col.cast(pa.list_(pa.float64()))
    off = col.offsets.to_numpy()
    vals = col.values
    flat = np.append(vals.to_numpy(zero_copy_only=False), 0.0)
    nulls = np.append(0, np.cumsum(vals.is_null().to_numpy(zero_copy_only=False)))
    ok = col.is_valid().to_numpy(zero_copy_only=False) & (nulls[off[1:]] == nulls[off[:-1]])
    return flat, off[:-1], np.diff(off), ok


def _round_half_up(v: np.ndarray) -> np.ndarray:
    """Spark's ``round`` of a double: halves away from zero, and ``0.0``
    (never ``-0.0``) for a negative value that rounds to zero."""
    f = np.floor(np.abs(v))
    return np.sign(v) * (f + (np.abs(v) - f >= 0.5)) + 0.0


def _seq_dot(a, ia, b, ib, length) -> np.ndarray:
    """``sum(a[ia + j] * b[ib + j] for j < length)`` per entry, in order
    from 0.0.  Slots past an entry's length read both pad slots: adding
    0.0 * 0.0 leaves any sum that starts at 0.0 unchanged."""
    acc = np.zeros(len(ia))
    for j in range(int(length.max(initial=0))):
        live = j < length
        acc = acc + a[np.where(live, ia + j, len(a) - 1)] * b[np.where(live, ib + j, len(b) - 1)]
    return acc


def _signatures(v: tuple, dim: int, tables: list) -> np.ndarray:
    """``(rows, tables)`` packed sign bits: bit i of table t is set when
    ``<vec, tables[t][i]>`` > 0, or is NaN (Spark orders NaN above every
    number).  A row that is not ``ok`` or not ``dim`` long gets 0, as the
    null projection of the Column form did."""
    flat, start, length, ok = v
    reg = ok & (length == dim)
    x = flat[np.where(reg[:, None], start[:, None] + np.arange(dim), len(flat) - 1)]
    planes = np.concatenate(tables)
    acc = np.zeros((len(start), len(planes)))
    for d in range(dim):
        acc = acc + x[:, d : d + 1] * planes[:, d]
    n_planes = len(tables[0])
    bits = ((acc > 0) | np.isnan(acc)).reshape(len(start), len(tables), n_planes)
    sig = (bits.astype(np.int64) << np.arange(n_planes)).sum(axis=2)
    return np.where(reg[:, None], sig, 0)


def _quantize(v: tuple) -> tuple:
    """``(quantized flat values, norms)``, as ``_quantized`` / ``_dot``."""
    flat, start, length, ok = v
    q = _round_half_up(flat * SCALE)
    return q, _seq_dot(q, start, q, start, np.where(ok, length, 0))


def _lsh_pairs(bc, ansi: bool):
    """Worker side of :func:`lsh_topk`: per corpus batch of ``(id, vec)``,
    compute each row's signatures, look them up in every table's probe
    index (``cell_list_spans`` / ``expand_spans``), drop self and null-id
    pairs, and score the rest with the exact quantized cosine."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def pairs(batches):
        dim, tables, qids, (qq, qstart, qlen, qok, qqn), probes = bc.value
        with np.errstate(all="ignore"):
            for batch in batches:
                ids = batch.column(0)
                v = _unpack(batch.column(1))
                _, start, length, ok = v
                sig = _signatures(v, dim, tables)
                q, qn = _quantize(v)
                for t, (keys, offsets, pool) in enumerate(probes):
                    s, c = cell_list_spans(keys, offsets, sig[:, t])
                    for row, _, idx in expand_spans(s, c, _PAIRS_PER_PASS):
                        qrow = pool[idx]
                        cid, qid = ids.take(row), qids.take(qrow)
                        keep = pc.fill_null(pc.not_equal(cid, qid), False)
                        cid, qid = cid.filter(keep), qid.filter(keep)
                        keep = keep.to_numpy(zero_copy_only=False)
                        if not keep.any():
                            continue
                        row, qrow = row[keep], qrow[keep]
                        live = ok[row] & qok[qrow] & (length[row] == qlen[qrow])
                        dot = _seq_dot(
                            q, start[row], qq, qstart[qrow], np.where(live, length[row], 0)
                        )
                        div = np.sqrt(qn[row] * qqn[qrow])
                        zero = live & (div == 0)
                        if ansi and zero.any():
                            raise ArithmeticError("[DIVIDE_BY_ZERO] Division by zero.")
                        yield pa.RecordBatch.from_arrays(
                            [qid, cid, pa.array(dot / div, mask=~live | zero)],
                            names=["query_id", "cand_id", "cosine"],
                        )

    return pairs


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    n_planes: int = 12,
    seed: int = 1234,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_tables: int = 1,
) -> DataFrame:
    """ANN top-k: candidates share the full sign signature OR any of
    ``n_planes`` one-bit-flipped variants (multi-probe) in ANY of
    ``n_tables`` independent hash tables (classic E2LSH
    OR-amplification: per-table recall p becomes 1-(1-p)^L), then exact
    re-rank.  ``n_tables=1`` (default) is the near-exact-duplicate
    configuration the planted gate proves; raise it (8-16) for ordinary
    ~0.9-cosine neighbors, where a single 12-plane table's bucket
    collision probability collapses (recall curve in BASELINE.md).

    The query side is collected once: its quantized vectors, norms,
    signatures and a sorted per-table probe index (own signature plus
    its one-bit flips -> query row) travel to the workers as one
    broadcast, the same size the broadcast join of the query side had.
    The corpus then crosses into Python once, in one ``mapInArrow``
    stage that emits scored ``(query_id, cand_id, cosine)`` pairs;
    dedup and ranking stay in Catalyst.  ``dim=None`` takes the length
    of the first non-null query vector."""
    qa = queries.select(id_col, vec_col).toArrow()
    qcol = qa.column(1).combine_chunks()
    qv = _unpack(qcol)
    if dim is None:
        lengths = qv[2][qcol.is_valid().to_numpy(zero_copy_only=False)]
        dim = int(lengths[0]) if len(lengths) else 0
    tables = [_planes(seed + 7919 * t, n_planes, dim) for t in range(n_tables)]
    with np.errstate(all="ignore"):
        qsig = _signatures(qv, dim, tables)
        qq, qqn = _quantize(qv)
    flips = np.append(0, 1 << np.arange(n_planes))  # own bucket + 1-bit flips
    qrow = np.repeat(np.arange(len(qsig)), len(flips))
    probes = []
    for t in range(n_tables):
        keys, offsets, (pool,) = cell_lists((qsig[:, t, None] ^ flips).ravel(), qrow)
        probes.append((keys, offsets, pool))
    bc = emb.sparkSession.sparkContext.broadcast(
        (dim, tables, qa.column(0).combine_chunks(), (qq, *qv[1:], qqn), probes)
    )
    ansi = emb.sparkSession.conf.get("spark.sql.ansi.enabled") == "true"
    schema = StructType([
        StructField("query_id", queries.schema[id_col].dataType),
        StructField("cand_id", emb.schema[id_col].dataType),
        StructField("cosine", DoubleType()),
    ])
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id").asc())
    return (
        emb.select(id_col, vec_col)
        .mapInArrow(_lsh_pairs(bc, ansi), schema)
        .dropDuplicates(["query_id", "cand_id"])
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "rank", "cosine")
    )


def ivf_centroids(
    emb: DataFrame,
    n_cells: int,
    seed: int = 7,
    max_iter: int = 5,
    vec_col: str = "embedding",
) -> np.ndarray:
    """Train the IVF coarse quantizer: distributed k-means (pyspark.ml,
    k-means|| init) over the embedding column.  Returns the (n_cells, dim)
    centroid matrix — the small index artifact a production deployment
    would persist next to the table."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    v = emb.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("_v"))
    model = KMeans(
        k=n_cells, seed=seed, maxIter=max_iter, featuresCol="_v", predictionCol="_cell"
    ).fit(v)
    return np.asarray(model.clusterCenters())


def _centroid_structs(centroids: np.ndarray) -> Column:
    """Quantized centroid literal array [(cid, qc array)] — cell counts are
    small (sqrt-of-corpus scale), so inlining keeps assignment in codegen."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("cid"),
                F.array(*[F.lit(float(round(x * SCALE))) for x in c]).alias("qc"),
            )
            for i, c in enumerate(centroids)
        ]
    )


def _cell_scores(qv: Column, cent: Column) -> Column:
    """(dist, cid) structs per centroid; exact integer L2 on quantized
    vectors, lexicographic struct sort == (dist ASC, cid ASC)."""
    return F.transform(
        cent,
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(qv, c["qc"], lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ).alias("dist"),
            c["cid"].alias("cid"),
        ),
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    centroids: np.ndarray,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: corpus rows carry their nearest-centroid cell,
    queries probe their ``nprobe`` nearest cells, exact cosine re-rank
    inside the probed cells.

    Scale shape: assignment is per-row codegen (no shuffle of the corpus
    beyond the one equi-join on ``cell``); a production layout bucketing
    the table BY cell makes the probe a partition-pruned scan.  A query's
    own cell is always its rank-1 probe, so an exact duplicate of a query
    is found with certainty at any ``nprobe >= 1`` (the planted-twin gate
    invariant)."""
    cent = _centroid_structs(centroids)
    e = emb.select(
        F.col(id_col).alias("cand_id"), _quantized(F.col(vec_col)).alias("qv")
    ).withColumn(
        "cell", F.array_min(_cell_scores(F.col("qv"), cent))["cid"]
    ).withColumn("qn", _dot(F.col("qv"), F.col("qv")))
    q = queries.select(
        F.col(id_col).alias("query_id"), _quantized(F.col(vec_col)).alias("qqv")
    ).withColumn(
        "cell",
        F.explode(
            F.transform(
                F.slice(F.array_sort(_cell_scores(F.col("qqv"), cent)), 1, nprobe),
                lambda s: s["cid"],
            )
        ),
    ).withColumn("qqn", _dot(F.col("qqv"), F.col("qqv")))
    pairs = e.join(F.broadcast(q), "cell").filter(F.col("cand_id") != F.col("query_id"))
    cos = _dot(F.col("qv"), F.col("qqv")) / F.sqrt(F.col("qn") * F.col("qqn"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id").asc())
    return (
        pairs.select("query_id", "cand_id", cos.alias("cosine"))
        .dropDuplicates(["query_id", "cand_id"])
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "rank", "cosine")
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 12,
    seed: int = 99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    bands: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via sign-LSH buckets +
    exact verify (the embedding analog of MinHash dedup).

    ``bands=None`` buckets on the FULL signature — high precision, recall
    only for near-identical vectors.  ``bands=k`` splits the signature
    into k chunks and candidates collide on ANY chunk (OR-amplification,
    exactly the MinHash banding move): per-band collision probability is
    (1 - theta/pi)^(n_planes/k), so recall at a given cosine rises
    steeply with k while the exact verify keeps precision.  Exact twins
    collide in every band under either setting (the planted-gate
    invariant).  Still an equi-self-join — scales the same way.

    The signature is the :func:`lsh_topk` numpy kernel, run in one
    ``mapInArrow`` stage that passes ``(id, vec)`` through; quantizing
    stays a Column expression, and the bands (remainder bits spread over
    the first bands) and the self-join with its cosine verify are the
    hamming operators' ``dedupe._banded_chunks`` / ``dedupe._band_pairs``.
    ``dim=None`` signs each vector with the hyperplanes of its own length
    (one plane set per length, built in the kernel); an explicit ``dim``
    gives any vector of another length signature 0."""
    if bands is not None and (bands < 2 or bands > n_planes):
        # bands > n_planes would make every band width 0 (mask 0): every
        # row collides in every band and the equi-self-join degenerates
        # into an O(n^2) cross product
        raise ValueError(f"bands must be in [2, n_planes={n_planes}], got {bands}")

    def with_sig(batches):
        import pyarrow as pa

        planes: dict[int, list] = {}
        for batch in batches:
            v = _unpack(batch.column(1))
            _, _, length, ok = v
            widths = [dim] if dim is not None else np.unique(length[ok]).tolist()
            sig = np.zeros(len(ok), dtype=np.int64)
            with np.errstate(all="ignore"):
                for w in widths:
                    if w not in planes:
                        planes[w] = [_planes(seed, n_planes, w)]
                    # rows of another length get 0 from _signatures
                    sig += _signatures(v, w, planes[w])[:, 0]
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1), pa.array(sig)], names=["id", "vec", "sig"]
            )

    schema = StructType([
        StructField("id", emb.schema[id_col].dataType),
        StructField("vec", emb.schema[vec_col].dataType),
        StructField("sig", LongType()),
    ])
    e = (
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .mapInArrow(with_sig, schema)
        .select("id", _quantized(F.col("vec")).alias("qv"), "sig")
        .withColumn("qn", _dot(F.col("qv"), F.col("qv")))
    )
    cos = _dot(F.col("a.qv"), F.col("b.qv")) / F.sqrt(F.col("a.qn") * F.col("b.qn"))
    return _band_pairs(
        _banded_chunks(e, "id", "sig", n_planes, bands, 1, carry=("qv", "qn")),
        cos.alias("cosine"),
        F.col("cosine") >= threshold,
    )
