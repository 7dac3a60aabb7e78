"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

These extend the reference's surface (its only dedup is last-wins on a
primary key, reference loader.py:1227-1241 — see operators/merge.py) with
the near-duplicate detection a large-scale training-data pipeline needs.

Design notes (100 TB stance):
  - exact dedup is a hash groupBy on the content hash (md5), NOT the full
    text — group keys stay 32 bytes, the shuffle moves hashes not bodies;
  - MinHash is computed from character shingles, all in-row: one linear
    regex scan per document -> per-shingle md5 -> n hash functions
    derived as disjoint 4-hex-char slices of the md5 (one md5 per
    shingle, not one per hash function — 8x cheaper) -> ``array_min``
    per slice = signature -> band -> bucket groupBy. Only bucket
    collisions ever meet in a shuffle — the classic LSH contract, so the
    pairwise stage is bounded by bucket volume, never |docs|^2;
  - SimHash packs a 48-bit token-hash majority vote via bit arithmetic in
    pure column expressions (one explode + one groupBy, map-side combined);
  - n-gram Jaccard runs ONLY on candidate pairs (same LSH band bucket).

Everything is built-in-function column algebra — JVM-side, codegen-friendly,
and exact-parity with the DuckDB oracles in ``__spark_entry__.py`` (md5 /
hex-slice semantics shared: Spark ``conv(hex,16,10)`` == DuckDB
``CAST('0x'||hex AS BIGINT)``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nspc_etl_basic_spark.materialize import hold, scope

DEFAULT_SHINGLE_K = 8
N_MINHASHES = 8  # md5 = 32 hex chars -> 8 disjoint 4-char slices


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups: md5-hash groupBy keeping the min id as the
    canonical representative. Returns (fp_md5, canonical_id, dup_count).

    Scale: the shuffle key is the 32-byte hash; document bodies never move.
    """
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("fp_md5"))
        .groupBy("fp_md5")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def shingle_array(text, k: int = DEFAULT_SHINGLE_K):
    """Array of k-char shingles of ``text`` as a column expression — the
    shared kernel of MinHash and Jaccard. Characters are code points, as
    in Spark's ``length``/``substring``: shingle i is the k code points
    starting at the i-th. A document shorter than ``k`` (empty included)
    contributes its whole text as the single shingle; NULL text gives
    ``[NULL]``.

    One left-to-right regex scan: at each code point the lookahead
    captures the next k and the trailing ``.`` steps exactly one code
    point, so a surrogate pair is never split (a bare zero-width
    ``(?=(.{k}))`` would restart inside one). The scan is O(L) for a
    document of L characters. Building shingle i as ``substring(text, i,
    k)`` over ``sequence(1, L-k+1)`` was O(L²): Spark's ``substring``
    counts code points from the first byte on every call, and the
    ``transform`` lambda runs interpreted, outside whole-stage codegen."""
    return F.when(
        F.coalesce(F.length(text), F.lit(0)) < k, F.array(text)
    ).otherwise(F.regexp_extract_all(text, F.lit(f"(?s)(?=(.{{{k}}}))."), 1))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DEFAULT_SHINGLE_K,
    n_hashes: int = N_MINHASHES,
    hash_fn: str = "md5",
) -> DataFrame:
    """MinHash signature per document: (id, mh_0..mh_{n-1}).

    Two hash tiers, identical plan shape:

    - ``hash_fn="md5"`` (default — the ORACLE tier): hash_j(shingle) =
      md5(shingle)[4j+1 : 4j+4] (hex slice); DuckDB replays it
      byte-for-byte, which is what the driver correctness gate checks.
    - ``hash_fn="xxhash64"`` (the PRODUCTION tier): n seeded JVM
      xxhash64 digests per shingle (``xxhash64(lit(j), shingle)`` —
      the seed argument gives n independent hash functions; multiply-
      mix of one hash would be cheaper still but long-overflow
      multiplication throws under ANSI mode). md5 is a cryptographic
      digest; the 500 k-doc run in SCALE.md measured this tier 1.65x
      faster end to end. Nothing downstream (banding, bucket join,
      Jaccard verify) changes, signatures are just longs instead of
      hex strings.

    Both tiers hash the shingles of ``shingle_array``: one regex scan,
    linear in the document's length, with Spark's code-point semantics.
    The per-position ``substring`` it replaced re-counted code points
    from the first byte for every shingle, O(L²) per document; a
    profile of warm curation passes found half the executor samples
    there and about 3% in md5 (SCALE.md §Dedup).

    The minimum over a document's shingles under ANY total order is a
    valid MinHash — lexicographic hex order (md5) and signed-long
    order (xxhash64) both serve; min over the shingle multiset equals
    min over its set, so no dedup pass either.

    PROJECTION-ONLY: the signature is ``array_min`` over an in-row hashed
    shingle array — one digest per shingle, ZERO shuffles. (The naive
    plan — explode shingles, groupBy(doc) with n mins — shuffles every
    shingle of every document; at 100 TB that shuffle is the whole job.
    This plan keeps signature computation embarrassingly parallel with
    the scan.)

    Null-text documents are dropped (they have no shingles — same row set
    as the exploded formulation).
    """
    if hash_fn == "md5":
        hashed = df.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col),
            F.transform(shingle_array(F.col(text_col), k), F.md5).alias("__h"),
        )
        mhs = [
            F.array_min(
                F.transform(F.col("__h"), lambda h: F.substring(h, 4 * j + 1, 4))
            ).alias(f"mh_{j}")
            # safe w.r.t. closure late-binding: F.transform consumes the
            # lambda eagerly (expression built while j is current)
            for j in range(n_hashes)
        ]
        return hashed.select(F.col(id_col), *mhs)
    if hash_fn != "xxhash64":
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    shingles = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        shingle_array(F.col(text_col), k).alias("__sh"),
    )

    def _minhash_j(j: int):
        return F.array_min(
            # eager-consumed lambda (expression built while j is current)
            F.transform(F.col("__sh"), lambda sh: F.xxhash64(F.lit(j), sh))
        ).alias(f"mh_{j}")

    return shingles.select(F.col(id_col), *[_minhash_j(j) for j in range(n_hashes)])


def band_table(
    signatures: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASHES,
    band_size: int = 2,
) -> DataFrame:
    """(id, band_id, band_key) — each signature exploded into its LSH
    bands (band = concat of ``band_size`` consecutive minhashes). A pure
    projection + explode; the shared first stage of the batch self-join,
    the persisted corpus band store, and the incremental batch-vs-corpus
    join."""
    n_bands = n_hashes // band_size
    return signatures.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        # '|' separator: the xxhash64 tier yields
                        # variable-width signed longs, so an unseparated
                        # concat is ambiguous ((12,345) vs (123,45)) and
                        # would create spurious LSH candidates / false
                        # cluster merges at corpus scale.
                        F.concat_ws(
                            "|",
                            *[F.col(f"mh_{b * band_size + j}") for j in range(band_size)],
                        ).alias("band_key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_key")


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASHES,
    band_size: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Band the signature (band = concat of ``band_size`` consecutive
    minhashes) and self-join per (band_id, band_key) bucket. Returns
    candidate pairs (id_a < id_b, n_shared_bands).

    Scale: the self-join shuffles on (band_id, band_key) so only documents
    sharing a bucket are compared; with b bands of r rows, a pair with
    Jaccard s collides with prob 1-(1-s^r)^b — the standard LSH S-curve.

    ``max_bucket_size`` is the skew guard: a degenerate band key (shared
    boilerplate, near-empty documents) can collect millions of documents,
    and its self-join is O(bucket²) in ONE task — the classic hot-key bomb
    AQE cannot split (it's a single key, not an imbalanced partition).
    Buckets larger than the cap are dropped before the join (a window
    count over the band key — the window introduces an exchange on
    (band_id, band_key), but that is the same partitioning the self-join
    needs, so Catalyst can reuse it; it is one extra pass over the
    bucketed layout, not free). Dropping is the industry-standard trade: members of
    a mega-bucket almost always still collide in another, smaller band,
    and a cluster that huge is better handled by exact dedup on the full
    hash. ``None`` (default) keeps exact all-pairs semantics.
    """
    bands = band_table(signatures, id_col, n_hashes, band_size)
    if max_bucket_size is not None:
        w = Window.partitionBy("band_id", "band_key")
        bands = (
            bands.withColumn("__bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band_id") == F.col("b.band_id"),
                F.col("a.band_key") == F.col("b.band_key"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def build_band_store(
    signatures: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASHES,
    band_size: int = 2,
) -> DataFrame:
    """Corpus band store for INCREMENTAL dedup: the band table plus a
    precomputed per-bucket size column (``bucket_size``). Persist this
    (ideally bucketed/partitioned on ``band_key``) once per corpus;
    incoming batches then join against it without ever rescanning or
    re-hashing the corpus. The stored size lets the hot-key cap filter be
    a plain column predicate at query time instead of a window over the
    full store. Counts go stale as batches append — refresh them at
    compaction cadence; a slightly-stale cap only shifts WHICH mega-bucket
    comparison is skipped."""
    bands = band_table(signatures, id_col, n_hashes, band_size)
    w = Window.partitionBy("band_id", "band_key")
    return bands.withColumn("bucket_size", F.count(F.lit(1)).over(w))


def incremental_lsh_pairs(
    new_signatures: DataFrame,
    band_store: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASHES,
    band_size: int = 2,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """LSH candidates for a NEW batch against an existing corpus — the
    continuous-ingest dedup path: is each incoming document a near-dup of
    anything already in the 100 TB corpus, or of another document in the
    same batch?

    Two joins, neither touching corpus text: (a) new-bands ⋈ band_store
    on (band_id, band_key) — the batch side is file-sized, so Spark
    broadcasts it and the store is probed without a corpus-wide shuffle;
    (b) the within-batch self-join. Returns (id_a, id_b, n_shared_bands)
    with id_a from the new batch; for batch-internal pairs id_a < id_b.
    The corpus is never self-joined and never rescanned — per-batch cost
    scales with |batch| x bands, not |corpus|.

    ``max_bucket_size`` filters corpus mega-buckets via the store's
    precomputed ``bucket_size`` (plain predicate — pushes down to the
    store scan) and the within-batch buckets via a window, mirroring
    ``lsh_candidate_pairs``."""
    new_bands = band_table(new_signatures, id_col, n_hashes, band_size)
    store = band_store
    if max_bucket_size is not None:
        if "bucket_size" in store.columns:
            store = store.filter(F.col("bucket_size") <= max_bucket_size)
        w = Window.partitionBy("band_id", "band_key")
        new_bands = (
            new_bands.withColumn("__bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    store = store.select(id_col, "band_id", "band_key")

    nb = new_bands.alias("n")
    cross = (
        F.broadcast(nb)
        .join(
            store.alias("c"),
            on=[
                F.col("n.band_id") == F.col("c.band_id"),
                F.col("n.band_key") == F.col("c.band_key"),
                F.col(f"n.{id_col}") != F.col(f"c.{id_col}"),
            ],
        )
        .groupBy(
            F.col(f"n.{id_col}").alias("id_a"),
            F.col(f"c.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    within = (
        nb.join(
            new_bands.alias("m"),
            on=[
                F.col("n.band_id") == F.col("m.band_id"),
                F.col("n.band_key") == F.col("m.band_key"),
                F.col(f"n.{id_col}") < F.col(f"m.{id_col}"),
            ],
        )
        .groupBy(
            F.col(f"n.{id_col}").alias("id_a"),
            F.col(f"m.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    return cross.unionByName(within)


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 48
) -> DataFrame:
    """SimHash over word tokens: token -> 48-bit hash (md5 hex slice ->
    long); per bit, majority vote (+1/-1 sum >= 0 -> bit set) across the
    document's tokens; pack votes back into one long.

    Pure column algebra: one explode, one groupBy with ``bits`` conditional
    sums (map-side combined), one packing projection. Hamming distance on
    the packed long is then ``bit_count(a ^ b)``.
    """
    from nspc_etl_basic_spark.operators.text import word_tokens

    toks = df.select(
        F.col(id_col), F.explode(word_tokens(F.col(text_col))).alias("tok")
    )
    h = F.conv(F.substring(F.md5("tok"), 1, 12), 16, 10).cast("long")  # 48 bits
    toks = toks.select(F.col(id_col), h.alias("h"))
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    votes = toks.groupBy(id_col).agg(*bit_aggs)
    packed = None
    for i in range(bits):
        term = F.when(F.col(f"v{i}") >= 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        packed = term if packed is None else (packed + term)
    return votes.select(F.col(id_col), packed.alias("simhash"))


def jaccard_on_candidates(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DEFAULT_SHINGLE_K,
) -> DataFrame:
    """n-gram (char-shingle) Jaccard similarity for candidate pairs only:
    (id_a, id_b, jaccard).

    Per-pair set algebra: each side's DISTINCT shingle array is computed
    in-row, the pair is assembled by two id equi-joins (the candidate set —
    LSH bucket collisions — is tiny relative to the corpus, so it
    broadcasts), and |A ∩ B| is ``array_intersect`` on the joined row.
    |A ∪ B| = |A| + |B| - |A ∩ B|.

    Scale contract: NO corpus-wide shingle explode, no shingle-keyed
    shuffle. Work is O(candidate pairs x document length): a broadcast
    LEFT SEMI join on the candidate id set prunes the corpus BEFORE the
    shingle projection runs — a broadcast hash join alone prunes after
    the probe side's projection, so without the semi-join every document
    would still pay ``array_distinct(shingle_array(...))`` only to be
    dropped at the probe. The earlier formulation (explode all shingles,
    equi-join on the shingle string) shuffled the entire shingled corpus
    to verify a candidate set a thousandth its size.
    """
    cand_ids = candidates.select(
        F.explode(F.array("id_a", "id_b")).alias(id_col)
    ).distinct()
    sh = (
        df.join(F.broadcast(cand_ids), id_col, "left_semi")
        .filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.array_distinct(shingle_array(F.col(text_col), k)).alias("__sh"),
        )
    )
    pairs = F.broadcast(candidates.select("id_a", "id_b"))
    a = sh.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__sh_b"))
    n_inter = F.size(F.array_intersect(F.col("__sh_a"), F.col("__sh_b")))
    n_union = F.size(F.col("__sh_a")) + F.size(F.col("__sh_b")) - n_inter
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(n_inter.cast("double") / n_union, 6).alias("jaccard"),
        )
    )


def containment_on_candidates(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DEFAULT_SHINGLE_K,
) -> DataFrame:
    """ASYMMETRIC n-gram containment for candidate pairs:
    ``(id_a, id_b, containment_a, containment_b)`` where
    ``containment_a = |A ∩ B| / |A|``.

    Jaccard under-scores doc-IN-doc duplication (a paragraph pasted into
    a much longer page has tiny Jaccard but containment_a ≈ 1), which is
    exactly the shape boilerplate/quotation/wrapper duplication takes in
    a web-scale training corpus. Same scale contract as
    ``jaccard_on_candidates``: broadcast LEFT SEMI prunes the corpus
    before the shingle projection, per-pair set algebra is in-row
    ``array_intersect``, no corpus-wide shingle shuffle."""
    cand_ids = candidates.select(
        F.explode(F.array("id_a", "id_b")).alias(id_col)
    ).distinct()
    sh = (
        df.join(F.broadcast(cand_ids), id_col, "left_semi")
        .filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.array_distinct(shingle_array(F.col(text_col), k)).alias("__sh"),
        )
    )
    pairs = F.broadcast(candidates.select("id_a", "id_b"))
    a = sh.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__sh_b"))
    n_inter = F.size(F.array_intersect(F.col("__sh_a"), F.col("__sh_b")))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                n_inter.cast("double") / F.size(F.col("__sh_a")), 6
            ).alias("containment_a"),
            F.round(
                n_inter.cast("double") / F.size(F.col("__sh_b")), 6
            ).alias("containment_b"),
        )
    )


def neardup_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
    hot_degree_threshold: int = 1_000_000,
    onepass_max_edges: int = 2_000_000,
) -> DataFrame:
    """Near-duplicate CLUSTERS from candidate pairs: every document mapped
    to a ``component_id`` (the minimum id in its connected component of
    the pair graph; singletons map to themselves). This is the step a
    training-data pipeline runs after pair generation — keep one canonical
    doc per cluster, drop the rest.

    Algorithm: iterative min-label propagation (each round every node
    takes the min label among itself and its neighbors) plus POINTER
    JUMPING (then takes its label's label) — the jump composes paths, so
    label depth halves each round and convergence is O(log diameter)
    rounds instead of O(diameter); each round costs one extra self-join
    of the (small) label table. Convergence is detected by the label-sum
    invariant: labels only ever decrease, so an unchanged sum means a
    fixpoint — one cheap aggregate per round instead of a
    join-and-compare. (Jumping never crosses components: a label is
    always the id of a node in the same component, so composing labels
    stays within it.)

    100 TB stance: propagation runs ONLY over nodes that appear in a pair
    (candidate graphs are orders of magnitude smaller than the corpus);
    the untouched corpus is unioned back as singletons at the end. Each
    round is one equi-join + one map-side-combined groupBy keyed by the
    8-byte id, and ``localCheckpoint`` cuts the iterative plan's lineage
    so round N's plan does not embed rounds 1..N-1.

    Size-adaptive kernel (round 13, guide §1.2 "the distributed
    algorithm" / §2.4): the fixpoint's O(log diameter) rounds each cost
    a handful of Spark jobs (join + groupBy + pointer-jump self-join +
    lineage cut + convergence aggregate) — pure scheduling overhead
    when the candidate graph is small, which is the COMMON case for
    this operator's callers (retirement re-pairs one component's
    membership, incremental merges contract to batch-sized graphs, and
    even a full corpus's LSH candidate graph is orders of magnitude
    below the corpus). When the directed edge count (known from the
    sizing count this function already performs) is at most
    ``onepass_max_edges``, the labels come from ``components_onepass``
    — ONE grouped-Arrow union-find task — whose output is pinned
    bit-identical to the fixpoint (tests/test_dedup.py randomized
    equivalence). Above the bound the distributed fixpoint runs
    unchanged, so 100 TB pair tables never serialize through one task.
    The bound is a PLAN choice, not a semantic one (both kernels
    compute min-id-per-component), sized so the one-task union-find
    stays in the low seconds / low hundreds of MB (2M directed edges =
    1M pairs ~ 16 MB through Arrow).

    Skew: the per-round neighbor join is keyed on ``dst``, so a
    pathological high-degree node (one boilerplate gram in 10% of docs
    surviving the bucket cap) would land its whole edge list on ONE
    task every round. Nodes whose degree is >= ``hot_degree_threshold``
    therefore take a broadcast path: their edges are split out ONCE
    (degrees are static across rounds) and each round joins them
    against a BROADCAST of just the hot nodes' label rows — tiny by
    construction, at most n_edges/threshold rows — while cold edges
    keep the shuffled equi-join. ``min`` over the unioned neighbor rows
    is the same set either way, so the result is bit-identical to the
    single-path plan (pinned by tests/test_dedup.py's star-graph case);
    the groupBy after the union still map-side-combines both branches,
    so the hub's aggregate never concentrates either. Off by setting
    the threshold above the max plausible degree.
    """
    edges_fwd = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges_raw = edges_fwd.unionByName(
        edges_fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )

    # Right-size the iteration to the GRAPH, not the corpus: the label
    # table is candidate-graph-sized (orders of magnitude below the
    # corpus), but per-round joins would otherwise shuffle it across the
    # session's full partition count — at sf0.1 that is 32-64 tasks per
    # round for a few thousand rows, and job-scheduling overhead dominates
    # the whole operator. ~500k edges per partition keeps tasks meaty;
    # big graphs still spread across the cluster. (The count scans the
    # caller's pairs once — callers pass a cached/materialized candidate
    # table.)
    n_edges = edges_raw.count()

    if n_edges <= int(onepass_max_edges):
        # small-graph kernel: one grouped-Arrow union-find pass (see
        # the docstring's size-adaptive note); labels bit-identical to
        # the fixpoint below by the pinned equivalence. The eager
        # localCheckpoint mirrors the fixpoint's returned labels frame
        # (which is checkpointed by its last round): iterated callers
        # (retirement chains, incremental re-ingest) embed this result
        # in their next round's plan, and WITHOUT the lineage cut the
        # nested plans recompute multiplicatively — observed as a
        # test-suite hang before the cut was added.
        comp = components_onepass(pairs, id_col=id_col).localCheckpoint(
            eager=True
        )
        singletons = (
            nodes.select(F.col(id_col))
            .join(comp.select(id_col), on=id_col, how="left_anti")
            .select(F.col(id_col), F.col(id_col).alias("component_id"))
        )
        return comp.unionByName(singletons)

    n_parts = max(2, min(
        edges_raw.sparkSession.sparkContext.defaultParallelism,
        n_edges // 500_000 + 2,
    ))
    with scope():
        edges = hold(edges_raw.repartition(n_parts, "dst"))

        # static degree pass (one map-side-combined groupBy over the cached
        # edges): split out hot-dst edges once; see the docstring's skew
        # note. A graph with fewer TOTAL edges than the threshold cannot
        # contain a hot node — skip the pass outright, so small candidate
        # graphs (and every toy-scale run) keep the original plan shape.
        if n_edges >= int(hot_degree_threshold):
            hot_nodes = hold(
                edges.groupBy("dst")
                .agg(F.count(F.lit(1)).alias("__deg"))
                .where(F.col("__deg") >= int(hot_degree_threshold))
                .select(F.col("dst").alias("node"))
            )
            n_hot = hot_nodes.count()
        else:
            hot_nodes, n_hot = None, 0
        if n_hot > 0:
            cold_edges = hold(edges.join(
                F.broadcast(hot_nodes.select(F.col("node").alias("dst"))),
                "dst", "left_anti",
            ).repartition(n_parts, "dst"))
            hot_edges = hold(edges.join(
                F.broadcast(hot_nodes.select(F.col("node").alias("dst"))),
                "dst", "semi",
            ))
            cold_edges.count(), hot_edges.count()
            edges.unpersist()
        else:
            cold_edges, hot_edges = edges, None
            if hot_nodes is not None:
                hot_nodes.unpersist()

        labels = (
            (edges if hot_edges is None else cold_edges.select("src").unionByName(
                hot_edges.select("src")))
            .select(F.col("src").alias("node"))
            .distinct()
            .select(F.col("node"), F.col("node").alias("label"))
            .coalesce(n_parts)
            .localCheckpoint(eager=True)
        )
        prev_sum = labels.agg(F.sum("label")).collect()[0][0]

        for _ in range(max_iter):
            cold_nb = cold_edges.join(
                labels, cold_edges["dst"] == labels["node"]
            ).select("src", "label")
            if hot_edges is not None:
                # hot-node labels: one row per hot node — broadcast, no
                # dst-keyed shuffle, the hub's edges stay spread across
                # whatever partitions they arrived in
                hot_labels = labels.join(hot_nodes, "node", "semi")
                hot_nb = hot_edges.join(
                    F.broadcast(hot_labels),
                    hot_edges["dst"] == hot_labels["node"],
                ).select("src", "label")
                all_nb = cold_nb.unionByName(hot_nb)
            else:
                all_nb = cold_nb
            neighbor_min = all_nb.groupBy("src").agg(
                F.min("label").alias("nb_label")
            )
            stepped = labels.join(
                neighbor_min, labels["node"] == neighbor_min["src"], "left"
            ).select(
                labels["node"],
                F.least(
                    labels["label"], F.coalesce(F.col("nb_label"), labels["label"])
                ).alias("label"),
            )
            # pointer jump: label <- label(label); labels are node ids of the
            # same component, so the self-join always resolves in-component.
            # (A second jump per round was measured SLOWER on the sf0.1
            # candidate graph — the extra self-join outweighs the saved
            # rounds when the label table is join-overhead-bound.)
            jump_to = stepped.select(
                F.col("node").alias("__jn"), F.col("label").alias("__jl")
            )
            new_labels = (
                stepped.join(jump_to, stepped["label"] == F.col("__jn"), "left")
                .select(
                    stepped["node"],
                    F.coalesce(F.col("__jl"), stepped["label"]).alias("label"),
                )
                .coalesce(n_parts)
                .localCheckpoint(eager=True)
            )
            labels = new_labels
            cur_sum = labels.agg(F.sum("label")).collect()[0][0]
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum

    singletons = (
        nodes.select(F.col(id_col).alias("node"))
        .join(labels.select("node"), on="node", how="left_anti")
        .select(F.col("node"), F.col("node").alias("label"))
    )
    return (
        labels.unionByName(singletons)
        .select(F.col("node").alias(id_col), F.col("label").alias("component_id"))
    )


def _uf_min_labels(pdf):
    """Union-find with union-by-min over one pandas edge group: returns
    (node, min id of its connected component) for every node that
    appears in an edge. Attaching the LARGER root under the smaller
    keeps the invariant root == min(component), so the output is the
    same min-label fixpoint ``neardup_components`` converges to."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(pdf["id_a"], pdf["id_b"]):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if rb < ra:
            ra, rb = rb, ra
        parent[rb] = ra
    nodes = list(parent)
    return pd.DataFrame(
        {"__node": nodes, "__label": [find(x) for x in nodes]}
    )


def components_onepass(
    pairs: DataFrame,
    id_col: str = "doc_id",
    key_col: str | None = None,
) -> DataFrame:
    """Min-label connected components of a pair graph in ONE grouped
    Arrow pass (per-group union-find) instead of ``neardup_components``'
    O(log diameter)-round distributed fixpoint — the round-12 job-count
    optimization for the two regimes where the fixpoint's generality is
    pure overhead. Returns ``(id_col, component_id)`` for every id that
    appears in a pair (singletons are the caller's left-join+coalesce,
    same as the fixpoint's union step). The labels are IDENTICAL to
    ``neardup_components`` on the same pairs: both compute the min id
    per connected component (pinned by tests/test_dedup.py's randomized
    equivalence).

    Two sanctioned regimes — use the fixpoint for anything else:

    - ``key_col`` given: edges are KEY-LOCAL by construction (semantic
      dedup's within-cell pairs — components can never span cells), so
      each key group is an independent union-find. Fully distributed:
      one shuffle keyed by ``key_col``, per-task work bounded by the
      caller's cell-size bound (``auto_n_cells``/``max_cell_size``),
      hot cells impossible beyond that same bound.
    - ``key_col=None``: the whole pair set is ONE group on one task.
      ONLY for graphs the caller bounds — either structurally (the
      ``incremental_components`` contraction contract: its result is
      immediately ``F.broadcast`` into the corpus label scans, so a
      graph too big for one task was already too big for the existing
      plan) or by a MEASURED edge count (``neardup_components``'
      round-13 size-adaptive cutover, which counts the edges first and
      keeps the distributed fixpoint above its bound); never for
      unbounded corpus-scale pair tables.

    The kernel ships only (id_a, id_b[, key]) through Arrow — never
    vectors or text — and a pair table is orders of magnitude below
    the corpus by the LSH/cell-bucketing contracts."""
    from pyspark.sql import types as T

    id_t = pairs.schema["id_a"].dataType
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_t),
            T.StructField("component_id", id_t),
        ]
    )

    def _kernel(_key, pdf):
        out = _uf_min_labels(pdf)
        return out.rename(
            columns={"__node": id_col, "__label": "component_id"}
        )

    if key_col is None:
        sel = pairs.select("id_a", "id_b").groupBy(F.lit(0).alias("__g"))
    else:
        sel = pairs.select(key_col, "id_a", "id_b").groupBy(key_col)
    return sel.applyInPandas(_kernel, out_schema)


def incremental_components(
    new_nodes: DataFrame,
    batch_pairs: DataFrame,
    existing_labels: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Merge a new batch into existing near-dup components WITHOUT
    recomputing the corpus fixpoint — the missing half of the
    continuous-ingest dedup story (``incremental_lsh_pairs`` already
    gets batch candidate pairs without a corpus rescan; this absorbs
    them). Returns ``(id_col, component_id)`` for EVERY document,
    existing and new.

    Correctness by CONTRACTION: every existing component is already a
    connected blob under the old edges, so collapse it to one
    super-node named by its ``component_id`` — map each endpoint of
    the batch pairs through ``existing_labels`` (absent endpoints,
    i.e. genuinely new docs, map to themselves) and drop the edges
    that fall inside one blob. Components of the full graph
    (old edges + batch edges) correspond 1:1 to components of the
    contracted graph, and because a component_id is the MIN doc id of
    its members, the min label over merged super-nodes and new ids IS
    the min doc id over all merged members — so running the ordinary
    min-label fixpoint (``neardup_components``) on the contracted
    batch graph and remapping yields exactly the batch-rebuild answer
    (pinned by tests/test_dedup.py against a from-scratch rebuild,
    including batch edges that chain two old components through a new
    doc).

    100 TB stance: the fixpoint runs on the CONTRACTED batch graph
    (at most 2x|batch pairs| nodes). The corpus-sized label table is
    scanned exactly twice, both times against broadcast batch-sized
    sides — (a) a broadcast-semi to pull the touched endpoints' labels,
    (b) a broadcast-left against the fixpoint result (only touched
    component ids relabel; everything else keeps its label untouched).
    No corpus shuffle, no corpus text, no global fixpoint. A re-ingested
    doc id already present in ``existing_labels`` contracts to its
    existing component, so replays are idempotent."""
    pairs = batch_pairs.select("id_a", "id_b")
    endpoints = (
        pairs.select(F.col("id_a").alias("__n"))
        .unionByName(pairs.select(F.col("id_b").alias("__n")))
        .distinct()
    )
    # (a) one corpus-label scan, broadcast-semi down to touched ids
    touched = existing_labels.select(
        F.col(id_col).alias("__n"), F.col("component_id").alias("__c")
    ).join(F.broadcast(endpoints), "__n", "semi")

    lab_a = touched.select(
        F.col("__n").alias("id_a"), F.col("__c").alias("__ca")
    )
    lab_b = touched.select(
        F.col("__n").alias("id_b"), F.col("__c").alias("__cb")
    )
    with scope():
        contracted = hold(
            pairs.join(F.broadcast(lab_a), "id_a", "left")
            .join(F.broadcast(lab_b), "id_b", "left")
            .select(
                F.coalesce("__ca", F.col("id_a")).alias("id_a"),
                F.coalesce("__cb", F.col("id_b")).alias("id_b"),
            )
            .where(F.col("id_a") != F.col("id_b"))
        )
        # single-pass union-find instead of the distributed fixpoint
        # (round 12): the contracted graph is batch-bounded BY CONTRACT —
        # its labels are F.broadcast into both corpus scans below, so the
        # one-task kernel adds no size limit the plan did not already have,
        # and it replaces the fixpoint's ~4 jobs/round x O(log diameter)
        # rounds with one Spark job. Every node of the contracted graph
        # appears in an edge (the != filter above removed only self-loops,
        # whose nodes the old sub_nodes derivation dropped identically), so
        # no singleton pass is needed; labels are the same min-id-per-
        # component the fixpoint computes (union-by-min; pinned equivalent
        # in tests/test_dedup.py).
        # localCheckpoint, not cache(): materialized once for the two
        # broadcast joins below, and its blocks are released by the
        # ContextCleaner when the result frame is dropped — nothing stays
        # pinned in the CacheManager across repeated calls
        merged = components_onepass(
            contracted, id_col=id_col
        ).select(
            F.col(id_col).alias("__m"), F.col("component_id").alias("__ml")
        ).localCheckpoint(eager=True)

    # (b) second corpus-label scan: relabel only touched components
    relabeled_existing = (
        existing_labels.select(id_col, "component_id")
        .join(
            F.broadcast(merged),
            F.col("component_id") == F.col("__m"),
            "left",
        )
        .select(
            id_col,
            F.coalesce("__ml", F.col("component_id")).alias("component_id"),
        )
    )
    new_labeled = (
        new_nodes.select(id_col)
        .join(F.broadcast(merged), F.col(id_col) == F.col("__m"), "left")
        .select(
            id_col,
            F.coalesce("__ml", F.col(id_col)).alias("component_id"),
        )
    )
    # a re-ingested id is already in existing_labels — emit it once
    truly_new = new_labeled.join(
        existing_labels.select(id_col), id_col, "left_anti"
    )
    return relabeled_existing.unionByName(truly_new)


def keep_best_representative(
    components: DataFrame,
    quality: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    component_col: str = "component_id",
) -> DataFrame:
    """The KEEP step of a dedup pipeline: per duplicate cluster, retain
    the highest-``quality_col`` member (ties -> lowest ``id_col``) and
    report cluster size — i.e. turn ``neardup_components`` output plus a
    per-document quality table into the final survivor list. Returns
    ``(component_col, kept_<id_col>, <quality_col>, n_members)``.

    Shape: one equi-join on the id (quality never needs to be wider than
    (id, score)) and one component-keyed shuffle shared by the window
    rank AND the member count — Spark reuses the hash partitioning, so
    the argmax and the size are one exchange, not two. At 100 TB the
    cluster table is corpus-sized but narrow (3 columns); nothing here
    touches document bodies."""
    from pyspark.sql.window import Window

    j = components.select(id_col, component_col).join(
        quality.select(id_col, quality_col), id_col
    )
    w = Window.partitionBy(component_col).orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    wp = Window.partitionBy(component_col)
    return (
        j.select(
            component_col,
            id_col,
            quality_col,
            F.row_number().over(w).alias("__rk"),
            F.count(F.lit(1)).over(wp).alias("n_members"),
        )
        .filter(F.col("__rk") == 1)
        .select(
            component_col,
            F.col(id_col).alias(f"kept_{id_col}"),
            quality_col,
            "n_members",
        )
    )


def setjoin_exact(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_ppm: int = 600_000,
    shingle_k: int | None = DEFAULT_SHINGLE_K,
) -> DataFrame:
    """EXACT Jaccard set-similarity self-join via prefix filtering (the
    PPJoin family, Xiao et al. WWW'08): every pair of documents whose
    word-token Jaccard is >= threshold — with NO false negatives, the
    guarantee MinHash LSH trades away. Returns
    ``(id_a, id_b, n_common, jaccard)``.

    Why it's exact: each doc's tokens are ordered rarest-first (global
    frequency, token as tie-break) and only its first
    ``|d| - ceil(t*|d|) + 1`` tokens are indexed; by pigeonhole, two
    docs with J >= t MUST share at least one indexed prefix token, so
    the candidate set provably covers every qualifying pair. The
    threshold is integer ppm and every comparison is integer
    (c * 1e6 >= t_ppm * union) — no float drift, oracle-replayable
    against a brute-force SQL join.

    Scale: rarest-first ordering is the skew defense — frequent tokens
    are indexed (almost) never, so the prefix self-join's hot keys are
    precisely the keys with few docs. Per-doc sorting is IN-ROW
    (sort_array over the doc's own tokens after a freq join); no global
    rank, no vocab-sized window. Candidate verification joins the token
    table against the CANDIDATE pairs only (candidate-proportional,
    like jaccard_on_candidates). The symmetric size filter
    (t*|a| <= |b| <= |a|/t) prunes before verification.

    Set definition: ``shingle_k``-char shingles by default — the same
    set MinHash estimates, and far more selective than word tokens
    (template-heavy corpora share most of their VOCABULARY while
    sharing few shingles; measured on the driver corpus, word tokens
    at t=0.6 produce ~7M pairs where shingles produce the true
    near-dup set). Pass ``shingle_k=None`` for word-token sets.
    """
    from nspc_etl_basic_spark.operators.text import word_tokens

    if not 0 < threshold_ppm <= 1_000_000:
        raise ValueError("threshold_ppm must be in (0, 1e6]")
    t = int(threshold_ppm)
    tok_expr = (
        shingle_array(F.col(text_col), shingle_k)
        if shingle_k is not None
        else word_tokens(F.col(text_col))
    )
    # materialize the token table ONCE (round 13, guide §5): it has
    # FOUR consumers (the frequency aggregate, the per-doc prefix sort,
    # and both sides of the verification join), and the shingle explode
    # over the input text — ~len(text) rows per doc at the default
    # k=12 — is the operator's dominant per-row cost; without the
    # checkpoint every consumer re-ran it (the before-plan carried 6
    # text-bearing scans)
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.array_distinct(tok_expr)).alias("tok"),
    ).localCheckpoint(eager=True)
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__tf"))
    per_doc = (
        toks.join(freq, "tok")
        .groupBy("__id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("__tf"), F.col("tok")))
            ).alias("__sorted"),
            F.count(F.lit(1)).alias("__n"),
        )
        .withColumn(
            # prefix length k = n - ceil(t*n/1e6) + 1, all integer
            "__k",
            F.col("__n")
            - F.floor(
                (F.col("__n") * F.lit(t) + F.lit(999_999)) / F.lit(1_000_000)
            ).cast("long")
            + F.lit(1),
        )
    )
    # the prefix index likewise feeds BOTH sides of the candidate
    # self-join; one materialization, two cheap reads (it is strictly
    # smaller than the token table by the prefix bound)
    prefix = per_doc.select(
        "__id",
        "__n",
        F.explode(F.expr("slice(__sorted, 1, __k)")).alias("__p"),
    ).select(
        "__id", "__n", F.col("__p.tok").alias("tok")
    ).localCheckpoint(eager=True)
    a = prefix.select(
        F.col("__id").alias("id_a"), F.col("__n").alias("__na"), "tok"
    )
    b = prefix.select(
        F.col("__id").alias("id_b"), F.col("__n").alias("__nb"), "tok"
    )
    cand = (
        a.join(b, "tok")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            (F.col("__nb") * F.lit(1_000_000) >= F.col("__na") * F.lit(t))
            & (F.col("__na") * F.lit(1_000_000) >= F.col("__nb") * F.lit(t))
        )
        .select("id_a", "id_b", "__na", "__nb")
        .distinct()
    )
    ta = toks.select(F.col("__id").alias("id_a"), "tok")
    tb = toks.select(F.col("__id").alias("id_b"), "tok")
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "tok"])
        .groupBy("id_a", "id_b", "__na", "__nb")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    union = F.col("__na") + F.col("__nb") - F.col("n_common")
    return (
        inter.where(F.col("n_common") * F.lit(1_000_000) >= union * F.lit(t))
        .select(
            "id_a",
            "id_b",
            "n_common",
            (
                F.floor(
                    F.col("n_common") * F.lit(1e6) / union.cast("double")
                )
                / F.lit(1e6)
            ).alias("jaccard"),
        )
    )
