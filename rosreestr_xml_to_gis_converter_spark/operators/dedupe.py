"""Large-scale deduplication operators over a document corpus.

Shingling, SimHash, hamming banding and every verify are Column
expressions / higher-order array functions.  The SimHash,
pHash/hamming, stream-static and embedding near-dup operators share one
band layout (:func:`_banded_chunks`), and all but the stream-static
matcher one banded self-join (:func:`_band_pairs`: join on (band, key),
verify, then collapse the pairs several bands found); the operators
that promise recall check the pigeonhole bound (:func:`_recall_bands`)
themselves.  The MinHash signatures and band keys are one numpy
``mapInArrow`` kernel over the JVM shingle arrays: it hashes each
shingle's bytes once with the Spark-exact XXH64 of
``functions/xxhash.py`` and derives every seeded minhash from that hash,
bit-identical to the ``xxhash64`` Column form and without its per-seed
lambdas.  The LSH self-joins are equi-joins on (band, hash)
buckets, which Catalyst shuffles on the bucket key (the standard
MinHash-LSH dedup shape used by web-scale corpus pipelines).  No
operator caches, so a call leaves no persisted relation behind in a
long-lived session; where a self-join would compute its input twice,
both sides read one reused shuffle exchange instead.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType


def _words(text: Column) -> Column:
    return F.split(F.lower(text), " ")


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of a text column (JVM higher-order fns).

    The word array is bound to a LAMBDA VARIABLE (via a single-element
    array + transform) before the per-shingle ``element_at`` accesses:
    referencing the raw ``split(lower(text))`` expression inside the
    shingle lambda re-evaluates the split per element access — ~3k
    split+lower calls per document — because Catalyst's subexpression
    elimination does not hoist out of higher-order lambdas (measured:
    50k docs shingled in ~1 s this way vs ~72 s with the naive form;
    the emitted shingle values are identical)."""

    def shingles_of(w: Column) -> Column:
        n = F.size(w) - (k - 1)
        mk = F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.concat_ws(" ", *[F.element_at(w, i + j) for j in range(k)]),
        )
        return F.array_distinct(
            F.when(n >= 1, mk).otherwise(F.array().cast("array<string>"))
        )

    return F.element_at(F.transform(F.array(_words(text)), shingles_of), 1)


def spread_input_by(df: DataFrame, *cols: str) -> DataFrame:
    """Scale-adaptive input-skew guard (guide §2.5): a small parquet with
    one row group hands ALL its rows to a single scan task no matter what
    ``maxPartitionBytes`` says — the byte-range split count looks healthy
    while every row lands in the one split holding the row-group start —
    serializing every downstream expression (measured: the 50k-doc
    shingle+minhash build ran ~82 s on one core vs ~3 s spread).  The
    partition COUNT therefore can't detect it; :func:`_should_spread`
    gates on the optimizer's size estimate and the file layout instead.
    The spread hash-partitions on ``cols``: unlike a round-robin
    repartition it needs no sort-before-repartition pass (guide §2.5),
    stays deterministic under task retry, and — when ``cols`` are the
    keys of a downstream dedup/groupBy — lets that operator reuse the
    exchange outright (guide §2.4)."""
    if _should_spread(df):
        return df.repartition(
            df.sparkSession.sparkContext.defaultParallelism,
            *[F.col(c) for c in cols],
        )
    return df


def _should_spread(df: DataFrame) -> bool:
    """Spread only when it can actually pay:

    * size band — above one healthy task-wave (parallelism x 64 MB) the
      shuffle would be waste and production tables are laid out anyway;
      below parallelism x 64 KB the job is over in one small task and
      the exchange's fixed cost (~0.1-0.2 s) dominates (measured:
      spreading the sf0.1 events/embeddings scans cost +0.1-0.15 s net);
    * the scan must be GENUINELY starved — parquet footers are checked
      driver-side and the spread fires only when the total row-group
      count is below the core count (the byte-range split COUNT lies: a
      single-row-group file yields hundreds of "splits" with all rows in
      one of them).  A well-laid-out input (e.g. the scaling bench's
      64-partition materialized table) is never repartitioned — the
      spread may only ADD effective parallelism, never reshape a healthy
      layout;
    * non-file relations (createDataFrame/range) are already evenly
      sliced across cores — never spread.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if not (parallelism * 64 * 1024 <= size < parallelism * 64 * 1024 * 1024):
        return False
    files = df.inputFiles()
    if not files or len(files) >= parallelism:
        return False
    from urllib.parse import unquote, urlparse

    import pyarrow as pa
    import pyarrow.parquet as pq

    row_groups = 0
    for f in files:
        p = urlparse(f)
        if p.scheme not in ("file", ""):
            # remote storage: footers not cheaply reachable here;
            # the size band already says the input is small
            return True
        try:
            row_groups += pq.ParquetFile(unquote(p.path)).num_row_groups
        except (OSError, pa.lib.ArrowInvalid):
            return True  # unreadable footer (non-parquet): trust the size band
        if row_groups >= parallelism:
            return False
    return row_groups < parallelism


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content hash (hash-groupBy)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_md5"), F.col(id_col))
        .groupBy("text_md5")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_distinct(F.concat(a, b)))
    return inter.cast("double") / union.cast("double")


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All-pairs n-gram Jaccard (exact, quadratic) — the small-N oracle
    baseline; MinHash-LSH below is the scale path with the same verify."""
    sh = df.select(F.col(id_col).alias("id"), word_shingles(F.col(text_col), k).alias("sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            jaccard(F.col("a.sh"), F.col("b.sh")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _minhash_band_rows(bands: int, rows: int):
    """Worker side of :func:`minhash_lsh_pairs`: per Arrow batch of
    ``(id, sh)``, emit one ``(id, band, bucket)`` row per band of every
    document with at least one shingle.

    Bit-identical to the Column form it replaces, where minhash ``i`` was
    ``array_min(transform(sh, s -> xxhash64(s, i)))`` and a band's bucket
    was ``xxhash64`` over its ``rows`` minhashes: each shingle's bytes
    are hashed once (``xxhash64(s)``), minhash ``i`` chains ``hashInt(i)``
    onto that hash and takes the signed minimum per document, and a
    bucket chains ``hashLong`` over the band's minhashes from seed 42.
    Only the ``bands * rows`` minhashes a band reads are computed."""
    import pyarrow as pa

    from rosreestr_xml_to_gis_converter_spark.functions.xxhash import (
        SEED,
        hash_int,
        hash_long,
        hash_strings,
    )

    def band_rows(batches):
        for batch in batches:
            ids, sh = batch.column(0), batch.column(1)
            off = sh.offsets.to_numpy().astype(np.int64)
            # reduceat needs non-empty segments: an empty or null shingle
            # list (zero length as Spark writes it) emits no band rows
            seg = np.flatnonzero(np.diff(off) > 0)
            if not seg.size:
                continue
            h0 = hash_strings(sh.values.slice(off[0], off[-1] - off[0]))
            starts = off[seg] - off[0]
            bucket = np.empty((len(seg), bands), np.uint64)
            for b in range(bands):
                h = SEED
                for r in range(b * rows, (b + 1) * rows):
                    sig = np.minimum.reduceat(hash_int(r, h0).view(np.int64), starts)
                    h = hash_long(sig, h)
                bucket[:, b] = h
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(np.repeat(seg, bands))),
                    pa.array(np.tile(np.arange(bands, dtype=np.int32), len(seg))),
                    pa.array(bucket.view(np.int64).ravel()),
                ],
                names=["id", "band", "bucket"],
            )

    return band_rows


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float,
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash + banded LSH candidate generation + exact Jaccard verify.

    shingle -> minhash(n) -> band buckets (bands x rows) -> bucket
    self-join -> verify.  Only bucket-colliding pairs are verified, so
    cost is ~linear in corpus size for realistic duplicate rates.
    Each band reads ``n_hashes // bands`` minhashes; the trailing
    ``n_hashes % bands`` never reach a bucket.
    """
    if not 1 <= bands <= n_hashes:
        # bands > n_hashes leaves every band without a minhash to key on
        raise ValueError(f"bands must be in [1, n_hashes={n_hashes}], got {bands}")
    rows = n_hashes // bands
    sh = spread_input_by(df, id_col).select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col), k).alias("sh"),
    )
    # no size filter on the shingles: it would be pushed below the
    # projection and shingle every document twice per scan.  The kernel
    # skips empty shingle sets, so no candidate pair holds such a document.
    # SLIM band rows (guide §2.3/§8): the bucket self-join carries only
    # (id, band, bucket) — shipping every doc's full shingle array
    # `bands`x through the join's build side (~1 KB/row at 8 copies per
    # doc) would dominate the query; shingles are re-attached below to
    # the (tiny) surviving candidate-pair set only.
    schema = StructType([
        StructField("id", sh.schema["id"].dataType),
        StructField("band", IntegerType()),
        StructField("bucket", LongType()),
    ])
    banded = sh.mapInArrow(_minhash_band_rows(bands, rows), schema).repartition(
        "band", "bucket"
    )
    # one exchange on the bucket key: both self-join sides read it (Spark
    # reuses it), so the minhash runs once per call, and the shuffled
    # join at scale needs exactly this partitioning anyway
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # re-attach shingles to the candidate pairs only (candidates <<
    # corpus at realistic duplicate rates); both lookups read one
    # shingle relation, broadcast while it fits
    cand = cand.join(
        sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
    ).join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    return (
        cand.withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(text: Column, n_bits: int = 64) -> Column:
    """SimHash over word tokens, pure Column arithmetic.

    For each bit b: vote = sum over tokens of +-1 by the b-th bit of
    xxhash64(token); bit set iff vote > 0.  Assembled into a long.
    """
    words = F.array_distinct(_words(text))

    # bind the token-hash array to a lambda variable before the 64
    # per-bit aggregates: referencing the raw transform expression in
    # each aggregate re-runs split+distinct+hash 64x per row (the same
    # higher-order-lambda duplication fixed in word_shingles; emitted
    # fingerprints are identical)
    def assemble(hashes: Column) -> Column:
        def bit_vote(b: int) -> Column:
            votes = F.aggregate(
                hashes,
                F.lit(0),
                lambda acc, h: acc
                + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
            )
            return F.when(votes > 0, F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            )

        out = F.lit(0).cast("long")
        for b in range(n_bits):
            # bit 63 is the sign bit of a signed long: setting it == adding
            # -2^63 (1 << 63 itself overflows a long literal)
            weight = (
                F.lit(-(1 << 63)).cast("long") if b == 63 else F.lit(1 << b).cast("long")
            )
            out = out + bit_vote(b) * weight
        return out

    return F.element_at(
        F.transform(
            F.array(F.transform(words, lambda w: F.xxhash64(w))), assemble
        ),
        1,
    )


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit fingerprint into 4
    16-bit chunks (pigeonhole: hamming<=3 guarantees a chunk collides;
    larger radii are still found with high probability), bucket-join,
    verify exact hamming distance with bit_count."""
    s = spread_input_by(df, id_col).select(
        F.col(id_col).alias("id"), simhash(F.col(text_col)).alias("sh")
    )
    return _band_pairs(
        _banded_chunks(s, "id", "sh", 64, 4, 1),
        F.bit_count(F.col("a.hh").bitwiseXOR(F.col("b.hh"))).alias("hamming"),
        F.col("hamming") <= max_hamming,
    )


def _banded_chunks(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    n_bits: int,
    n_bands: int | None,
    chunks_per_band: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The one band layout of the SimHash, pHash/hamming, stream-static
    and embedding near-dup operators: split the ``n_bits``-bit
    fingerprint into ``n_bands`` remainder-distributed chunks (no bit
    dropped) and explode each row to one ``(id, hh, *carry, band, key)``
    per combination of ``chunks_per_band`` chunks, packed into one long.
    ``n_bands=None`` is one band keyed on the whole fingerprint, unmasked
    (a 64-bit mask would overflow a long).  A one-band layout emits no
    ``band`` column and no explode.  Only structural checks live here;
    the entry points that promise recall check it with
    :func:`_recall_bands` first.  ``carry`` columns pass through
    unchanged (an event time, the vectors a verify reads)."""
    from itertools import combinations
    from math import comb

    s = df.select(
        F.col(id_col).alias("id"), F.col(hash_col).cast("long").alias("hh"), *carry
    )
    if n_bands is None:
        return s.withColumn("key", F.col("hh"))
    if not 1 <= n_bands <= n_bits:
        raise ValueError(f"n_bands must be in [1, {n_bits}], got {n_bands}")
    if not 1 <= chunks_per_band <= n_bands:
        raise ValueError(
            f"chunks_per_band must be in [1, {n_bands}], got {chunks_per_band}"
        )
    width = n_bits // n_bands
    widths = [width + (1 if i < n_bits % n_bands else 0) for i in range(n_bands)]
    offsets = [sum(widths[:i]) for i in range(n_bands)]
    if sum(widths[:chunks_per_band]) > 63:
        raise ValueError("combined band key exceeds 63 bits; lower chunks_per_band")

    def chunk_expr(i):
        return F.shiftright("hh", offsets[i]).bitwiseAND(F.lit((1 << widths[i]) - 1))

    def band_key(combi):
        # pack the selected chunks into one long, widest-first shifts
        key = chunk_expr(combi[0])
        for i in combi[1:]:
            key = F.shiftleft(key, widths[i]) + chunk_expr(i)
        return key

    n_combis = comb(n_bands, chunks_per_band)
    if n_combis > 512:
        # C(n_bands, m) structs per row: beyond a few hundred the explode
        # factor (and the codegen'd expression tree) dominates any bucket
        # savings — useful configs sit at C <= ~100 (e.g. C(8,4)=70).
        # Counted, not listed: C(64, 7) alone is 621M tuples
        raise ValueError(
            f"C({n_bands},{chunks_per_band}) = {n_combis} band combinations; "
            "pick a config with <= 512 (explode factor = combination count)"
        )
    combis = list(combinations(range(n_bands), chunks_per_band))
    if len(combis) == 1:
        return s.withColumn("key", band_key(combis[0]))
    bands = F.array(
        *[F.struct(F.lit(b).alias("band"), band_key(c).alias("key")) for b, c in enumerate(combis)]
    )
    return s.select("id", "hh", *carry, F.explode(bands).alias("bk")).select(
        "id", "hh", *carry, "bk.band", "bk.key"
    )


def _recall_bands(
    max_hamming: int, n_bits: int, n_bands: int | None, chunks_per_band: int
) -> int:
    """The band count that GUARANTEES recall at ``max_hamming``: default
    ``max_hamming + 1`` chunks, and reject a layout where a pair within
    the radius could miss every band.  At most ``max_hamming`` chunks
    differ, so a clean ``chunks_per_band``-combination exists iff
    ``n_bands - max_hamming >= chunks_per_band`` (pigeonhole).  A layout
    out of range falls through to :func:`_banded_chunks`' own message."""
    n_bands = max_hamming + 1 if n_bands is None else n_bands
    if 1 <= chunks_per_band <= n_bands <= n_bits and n_bands - max_hamming < chunks_per_band:
        raise ValueError(
            f"n_bands={n_bands}, chunks_per_band={chunks_per_band} cannot "
            f"guarantee recall at hamming {max_hamming} (pigeonhole needs "
            f"n_bands - max_hamming >= chunks_per_band)"
        )
    return n_bands


def _band_pairs(chunks: DataFrame, score: Column, keep: Column) -> DataFrame:
    """The banded self-join of every near-dup operator: equi-join
    :func:`_banded_chunks` rows on (band, key) with ``a.id < b.id``,
    compute ``score`` over the ``a.``/``b.`` sides, keep the pairs that
    pass ``keep`` and collapse the pairs several bands surfaced into
    ``(id_a, id_b, score)``.

    The verify runs BEFORE the dedup shuffle: the score is a function of
    the pair alone (not of which band matched), so filtering first is
    semantically identical and shrinks the ``dropDuplicates`` exchange
    from every candidate pair to the answer (2.8x on the 2M-row hamming
    scaling corpus).  A one-band layout surfaces each pair once and
    skips the dedup."""
    keys = [c for c in ("band", "key") if c in chunks.columns]
    a = chunks.alias("a")
    b = chunks.alias("b")
    pairs = (
        a.join(
            b,
            [F.col(f"a.{c}") == F.col(f"b.{c}") for c in keys]
            + [F.col("a.id") < F.col("b.id")],
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), score)
        .filter(keep)
    )
    return pairs.dropDuplicates(["id_a", "id_b"]) if "band" in keys else pairs


def hamming_match_static(
    probe: DataFrame,
    static: DataFrame,
    max_hamming: int,
    probe_id_col: str = "id",
    probe_hash_col: str = "h",
    static_id_col: str = "id",
    static_hash_col: str = "h",
    n_bits: int = 64,
    n_bands: int | None = None,
    chunks_per_band: int = 1,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Verified near-dup matches of ``probe`` rows against a STATIC
    fingerprint layer: both sides chunk through :func:`_banded_chunks`,
    equi-join on (band, key), ``bit_count(xor)`` verify — the
    continuous-ingestion shape of :func:`hamming_near_pairs`.  STATELESS
    by construction (no self-join, no dedup shuffle), so ``probe`` may
    be a Structured Streaming DataFrame: each micro-batch joins the
    static side with no state store, which is exactly how a 10^12-row
    corpus absorbs new documents — the static side is the bucketed
    signature table written once and reused per batch.

    A (probe, static) pair surfaces once per matching band combination;
    the caller collapses the multiplicity (``dropDuplicates`` in batch,
    or the watermarked per-probe aggregation in
    ``streaming/near_dup.py`` — ``collect_set`` absorbs it for free).
    ``carry`` columns from the probe side pass through (e.g. the event
    time a streaming watermark needs)."""
    n_bands = _recall_bands(max_hamming, n_bits, n_bands, chunks_per_band)
    pc = _banded_chunks(
        probe, probe_id_col, probe_hash_col, n_bits, n_bands, chunks_per_band, carry
    )
    sc = _banded_chunks(static, static_id_col, static_hash_col, n_bits, n_bands, chunks_per_band)
    keys = [c for c in ("band", "key") if c in sc.columns]
    return (
        pc.select(F.col("id").alias("probe_id"), F.col("hh").alias("_ph"), *carry, *keys)
        .join(sc.select(F.col("id").alias("static_id"), F.col("hh").alias("_sh"), *keys), keys)
        .filter(F.col("probe_id") != F.col("static_id"))
        .select(
            "probe_id",
            "static_id",
            F.bit_count(F.col("_ph").bitwiseXOR(F.col("_sh"))).alias("hamming"),
            *carry,
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def hamming_near_pairs(
    df: DataFrame,
    max_hamming: int,
    id_col: str = "id",
    hash_col: str = "h",
    n_bits: int = 64,
    n_bands: int | None = None,
    chunks_per_band: int = 1,
) -> DataFrame:
    """Near-dup pairs over an EXISTING n-bit fingerprint column by banded
    hamming search: split the fingerprint into ``n_bands`` chunks
    (default ``max_hamming + 1`` — the pigeonhole count that GUARANTEES
    two hashes within the radius collide on at least one untouched
    chunk), equi-self-join on (band, chunk), verify the exact distance
    with ``bit_count(xor)``.  The join is a bucket join on chunk values,
    never all-pairs — the same 10^12-row shape as the MinHash/SimHash
    paths.  Remainder bits are distributed so no bit is dropped.

    ``chunks_per_band`` is the SCALE knob the single-chunk
    layout lacks: with n_bands = max_hamming + 1 the band keys are only
    ~n_bits/(r+1) bits wide (13 for a 64-bit pHash at r=4), so on a
    near-uniform corpus the bucket join goes quadratic past ~10^6 rows
    (measured: 2e9 candidate pairs at 2M rows).  Combinatorial banding
    splits the hash into ``n_bands`` chunks and keys each band on a
    COMBINATION of ``chunks_per_band`` = m of them: within radius r at
    most r chunks differ, so a pair shares a fully-clean m-combination
    whenever n_bands - r >= m (validated below) — recall stays
    guaranteed while keys grow to m*(n_bits/n_bands) bits.  E.g.
    (n_bands=8, m=4) gives C(8,4)=70 bands of 32-bit keys: candidate
    volume drops by ~2^19 per band pair while the explode factor rises
    14x — the right trade at 10^8+ rows.
    """
    n_bands = _recall_bands(max_hamming, n_bits, n_bands, chunks_per_band)
    return _band_pairs(
        _banded_chunks(df, id_col, hash_col, n_bits, n_bands, chunks_per_band),
        F.bit_count(F.col("a.hh").bitwiseXOR(F.col("b.hh"))).alias("hamming"),
        F.col("hamming") <= max_hamming,
    )


def phash_near_pairs(
    images: DataFrame,
    max_hamming: int = 4,
    id_col: str = "image_id",
    n_bands: int | None = None,
    chunks_per_band: int = 1,
) -> DataFrame:
    """Image near-duplicates by perceptual hash: the input table already
    carries a 64-bit ``phash`` (BASELINE input_hint), so near-dup
    detection is a pure fingerprint-banding join — no decode, no Python.
    Radius 4 is the usual pHash near-dup threshold.  For 10^7+-row
    corpora pass e.g. ``n_bands=8, chunks_per_band=4`` (combinatorial
    banding, 32-bit keys) — see :func:`hamming_near_pairs`."""
    return hamming_near_pairs(
        images, max_hamming, id_col=id_col, hash_col="phash",
        n_bands=n_bands, chunks_per_band=chunks_per_band,
    )


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Near-dup CLUSTERS from a pair list: ``(id, component)`` where
    ``component`` is the minimum member id of the pair-connected group.

    This is the step that turns pair detection (MinHash / SimHash /
    pHash / embedding joins above) into actual deduplication: pick the
    canonical representative per component, drop the rest.  Transitivity
    matters — two documents can be near-dups of a shared middle document
    while exceeding the radius between themselves.

    Algorithm: min-label propagation WITH pointer jumping — each round
    every node takes the min of (its label, its neighbors' labels, its
    label's label).  The jump join halves label-chain depth per round,
    so convergence is O(log n) rounds even on adversarial path graphs
    (plain neighbor propagation is O(diameter)).  Each round is two
    shuffles on the label key; ``localCheckpoint`` keeps the lineage
    flat so round k does not recompute rounds 1..k-1 — the standard
    iterative-algorithm discipline at 10^9+-edge scale.  The fixpoint
    check is an existence probe (``limit(1)``), not a full count.
    """
    e = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint()
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr = sym.join(labels, sym["b"] == labels["node"]).select(
            sym["a"].alias("node"), labels["label"]
        )
        jump = (
            labels.alias("l1")
            .join(labels.alias("l2"), F.col("l1.label") == F.col("l2.node"))
            .select(F.col("l1.node").alias("node"), F.col("l2.label").alias("label"))
        )
        new = (
            labels.unionByName(nbr)
            .unionByName(jump)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        # release the superseded round's checkpointed blocks: without
        # this every iteration pins another full labels RDD in executor
        # storage for the rest of the run
        _unpersist_checkpoint(labels)
        labels = new
        if changed == 0:
            break
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")
    _unpersist_checkpoint(sym)
    return labels.select(F.col("node").alias("id"), F.col("label").alias("component"))


def _unpersist_checkpoint(df: DataFrame) -> None:
    """Release the storage blocks behind a ``localCheckpoint``-ed frame.

    ``df.rdd.unpersist()`` silently does nothing here — ``.rdd`` wraps
    the plan in a NEW deserializing RDD; the persisted blocks belong to
    the LogicalRDD captured at checkpoint time, reachable through the
    analyzed plan (verified against ``getRDDStorageInfo``)."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)
