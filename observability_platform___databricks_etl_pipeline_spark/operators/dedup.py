"""Deduplication operators: CDC last-writer-wins + training-data dedup family.

CDC side — the reference deduplicates with ``dropDuplicates`` (arbitrary,
nondeterministic winner: ``01_ingest_raw_logs.py:193-197``); here winners are
deterministic via ``max_by`` over an ordering struct (SURVEY.md §2 A10). All
variants are single hash aggregations with map-side partial aggregation, so a
hot key (one repo = 50% of rows) reduces to ~one row per mapper before the
shuffle — this is why groupBy+max_by is chosen over window row_number, which
would sort the entire hot partition on one task. No salting needed for the
agg itself; salting remains for grouped-map paths (see ``salted_repartition``).

Training-data side — exact (hash groupBy), MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup, for a 100 TB document lake: every variant
is a shuffle-on-signature (band/bucket) strategy so candidate pairs are
generated by equi-joins, never an O(n^2) cross join.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# CDC / LWW dedup
# --------------------------------------------------------------------------

def lww_dedup(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    count_col: str | None = None,
) -> DataFrame:
    """Keep exactly one row per key: the max of the ordering struct.

    Deterministic: ties on ``order_cols[0]`` break on the remaining order
    columns. The CDC engine's canonical order is ``(last_seq, commit
    ordinal)`` — a duplicated sequence number resolves to the later COMMIT,
    which is exactly the write-side merge's "batch beats table" rule, so
    merge-on-read scans and copy-on-write materialization pick the same
    winner (plans/lakevault.py scan()). Optionally emits ``count_col`` =
    number of collapsed rows per key for dedup accounting (reference analog:
    duplicate %% reporting, ``01:199-203``).
    """
    if count_col and count_col in df.columns:
        raise ValueError(
            f"lww_dedup: count_col {count_col!r} collides with an input column — "
            "the output would carry two columns of that name (ambiguous downstream)"
        )
    payload = F.struct(*[F.col(c) for c in df.columns])
    order = F.struct(*[F.col(c) for c in order_cols])
    aggs = [F.max_by(payload, order).alias("__w")]
    if count_col:
        aggs.append(F.count(F.lit(1)).alias(count_col))
    out = df.groupBy(*key_cols).agg(*aggs)
    sel = [F.col(f"__w.{c}").alias(c) for c in df.columns]
    if count_col:
        sel.append(F.col(count_col))
    return out.select(*sel)


def lww_latest_by_key(
    df: DataFrame, key_cols: list[str], seq_col: str = "seq"
) -> DataFrame:
    """Current-state view: latest row per key by sequence number."""
    return lww_dedup(df, key_cols, [seq_col])


def salted_repartition(df: DataFrame, key_cols: list[str], n: int, salt_buckets: int = 8) -> DataFrame:
    """Skew-aware repartition: hash(keys) + a per-row salt spreads a hot
    key over ``salt_buckets`` partitions, for PARTITION-LEVEL work
    (mapPartitions / per-partition writes / per-partition pre-aggregation
    that later reduces on (key, salt)). NOT a fix for
    ``groupBy(keys).applyInPandas`` — that operator re-shuffles on the
    grouping keys and lands the hot key back on one task; two-phase
    aggregation (group on (key, salt), then on key) is the salting shape
    there. The salt is a DETERMINISTIC function of the full row (not
    monotonically_increasing_id, whose values change on stage retry and can
    lose/duplicate rows mid-shuffle — the SPARK-23207 class)."""
    keys = [F.coalesce(F.col(k).cast("string"), F.lit("")) for k in key_cols]
    all_cols = [F.coalesce(F.col(c).cast("string"), F.lit("")) for c in df.columns]
    salt = F.pmod(F.xxhash64(F.lit("salt"), *all_cols), F.lit(salt_buckets))
    return df.repartition(n, F.xxhash64(*keys), salt)


# --------------------------------------------------------------------------
# Exact dedup (hash groupBy)
# --------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact near-zero-cost dedup: group by sha256(normalized text), keep the
    lowest id (deterministic canonical representative)."""
    h = F.sha2(F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")), 256)
    return (
        # null text carries no content identity: without the filter every
        # null-text row lands in one NULL-hash group and gets reported as a
        # duplicate of an unrelated document
        df.where(F.col(text_col).isNotNull())
        .withColumn("__h", h)
        .groupBy("__h")
        .agg(F.min(F.col(id_col)).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .select(F.col(id_col), F.col("__h").alias("content_hash"), "n_copies")
    )


# --------------------------------------------------------------------------
# Shared md5-derived hash family
#
# Every hash the similarity family mins/sums over is ``md5long(x) XOR C_i``
# where md5long = the first 15 hex digits of md5 as a 60-bit signed long and
# C_i = md5long(str(i)) precomputed on the driver. Chosen over xxhash64
# because DuckDB computes the identical value
# (``CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT)``), which makes
# MinHash/SimHash results oracle-checkable end-to-end; XOR with fixed random
# constants keeps values in [0, 2^60) (no overflow semantics to match) and is
# a standard cheap hash family for min-wise sketches.
# --------------------------------------------------------------------------

def md5long(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative long (DuckDB-replicable)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5long_constant(i: int) -> int:
    """Driver-side C_i = md5long(str(i)) — same family, literal-injected."""
    return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)


MD5LONG_SQL = "CAST(concat('0x', substr(md5({x}), 1, 15)) AS BIGINT)"


# --------------------------------------------------------------------------
# Shingling + MinHash + LSH
# --------------------------------------------------------------------------

def _shingles(text_col: Column, k: int = 5) -> Column:
    """Word k-shingles of whitespace-normalized lowercase text.

    r6 (guide §1.2 per-task work): one ``regexp_extract_all`` with a
    word-boundary lookbehind + capturing lookahead replaces the previous
    ``sequence``+``transform``+``slice``+``concat_ws`` chain — higher-order
    array functions are CodegenFallback (interpreted closure per element,
    per shingle word copies), measured ~10x slower per task than the single
    regex pass at sf1.0 (25 s vs 2.2 s on the same partitioning; 0 rows
    differ on the full corpus). Fewer than k words yield no regex match, so
    the short-document fallback keys off an empty result — shingle VALUES
    are unchanged and every md5-family oracle stays bit-identical."""
    norm = F.lower(F.regexp_replace(F.trim(text_col), r"\s+", " "))
    pat = r"(?<=^|\s)(?=(" + " ".join([r"\S+"] * k) + r"))"
    sh = F.regexp_extract_all(norm, F.lit(pat), 1)
    return F.when(F.size(sh) == 0, F.array(norm)).otherwise(sh)


def _spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition a narrow input before a fan-out (shingle/token explode) if
    it arrives from too few files — a single-file parquet corpus otherwise
    serializes the whole sketch pipeline onto one task. No-op when the source
    is already well-partitioned (the 100 TB case). Uses ``inputFiles()``
    (pure plan analysis) rather than ``df.rdd.getNumPartitions()``, which
    forces a DataFrame→RDD conversion on an otherwise DataFrame-only path;
    non-file sources (in-memory test frames) report zero files and get the
    spread, which is the safe direction."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if len(df.inputFiles()) < max(2, n // 2):
        return df.repartition(n, *cols)
    return df


def _df_capped_shingles(
    df: DataFrame, text_col: str, id_col: str, k: int, df_cap: int | None
) -> DataFrame:
    """(id, shingle) exploded distinct shingles, optionally dropping shingles
    whose document frequency exceeds ``df_cap``. A shingle appearing in d
    docs yields O(d²) rows in any shingle self-join and an O(d) skewed group
    in the signature agg — at 100 TB an uncapped stop-shingle is the #1
    scale-killer, so production callers should always set a cap (standard
    practice; the df count is one extra partial-agg groupBy over the same
    exploded rows)."""
    sh = _spread(df, id_col).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(_shingles(F.col(text_col), k))).alias("shingle"),
    )
    if df_cap is None:
        return sh
    # materialize the explode ONCE: it feeds both the df-count agg and the
    # keep-join — without this the dominant scan+regex+explode runs twice
    sh = sh.localCheckpoint(eager=True)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    return (
        sh.join(freq.where(F.col("__df") <= df_cap), "shingle")
        .select("id", "shingle")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    k: int = 5,
    df_cap: int | None = None,
) -> DataFrame:
    """Scalable MinHash: explode distinct shingles, hash each once per hash
    function (tiny expressions), take per-id mins via hash aggregation with
    map-side combine. Returns (id, sig array<long>). One shuffle of
    (id × num_hashes longs) per mapper — constant per key. Hash family is
    md5-derived (see ``md5long``) so a DuckDB oracle reproduces signatures
    exactly. ``df_cap`` drops ultra-common shingles before hashing."""
    base = md5long(F.col("shingle"))
    sh = _df_capped_shingles(df, text_col, id_col, k, df_cap).withColumn("__base", base)
    hashed = sh.select(
        "id",
        *[
            F.col("__base").bitwiseXOR(F.lit(md5long_constant(i))).alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )
    agg = hashed.groupBy("id").agg(
        *[F.min(f"h{i}").alias(f"mh{i}") for i in range(num_hashes)]
    )
    return agg.select("id", F.array(*[F.col(f"mh{i}") for i in range(num_hashes)]).alias("sig"))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 5,
    df_cap: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs via banded LSH over MinHash signatures.

    Scale path: signatures via explode→partial-agg (never an all-pairs
    anything), bands explode rows ×bands, the candidate join is a SELF
    equi-join on (band, band_hash). The signature table is materialized ONCE
    via ``localCheckpoint(eager=True)`` — unlike round 1's leaked
    ``persist()``, checkpoint blocks are freed by the ContextCleaner as soon
    as the returned plan is garbage-collected, so repeated calls in a
    long-lived session don't accumulate storage. (Plain ReuseExchange can't
    dedupe the two sides here: AQE may turn one side into a broadcast.) At
    100 TB the signature table would instead be written once as a real table
    — it is ~1% the corpus bytes. est_jaccard is computed inline from the two
    sig arrays riding the join and deduped across bands with one groupBy — no
    join-back to the signature table. Returns (id_a, id_b, est_jaccard) with
    id_a < id_b, est = fraction of matching signature components.
    """
    if not 1 <= bands <= num_hashes:
        raise ValueError(
            f"minhash_lsh_candidates: bands={bands} must be in [1, num_hashes={num_hashes}] — "
            "bands > num_hashes makes every band hash the empty string and the "
            "self-join degenerates to the all-pairs cross join"
        )
    if num_hashes % bands:
        raise ValueError(
            f"minhash_lsh_candidates: num_hashes={num_hashes} must be divisible by "
            f"bands={bands} — a remainder silently drops signature components "
            "and lowers recall below the configured family size"
        )
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, num_hashes, k, df_cap).localCheckpoint(
        eager=True
    )
    banded = sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("sig", b * rows_per_band + i + 1).cast("string")
                                    for i in range(rows_per_band)
                                ],
                            )
                        ).alias("bhash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "sig", F.col("bb.band").alias("band"), F.col("bb.bhash").alias("bhash"))
    a, b = banded.alias("a"), banded.alias("b")
    # r6: unrolled per-component equality sum instead of zip_with+filter —
    # higher-order array functions are CodegenFallback (interpreted closures
    # per element per candidate pair); num_hashes explicit comparisons
    # compile into whole-stage codegen and count the same matches exactly
    matches: Column = F.lit(0)
    for i in range(num_hashes):
        matches = matches + (
            F.element_at(F.col("a.sig"), i + 1) == F.element_at(F.col("b.sig"), i + 1)
        ).cast("int")
    est = matches.cast("double") / F.lit(float(num_hashes))
    return (
        a.join(b, on=["band", "bhash"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            est.alias("__est"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.max("__est").alias("est_jaccard"))
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

SIMHASH_BITS = 60  # md5long family is 60-bit; keeps every value positive on
                   # both engines (no sign-extension semantics to match)


def simhash60(text_col: Column) -> Column:
    """60-bit SimHash over word tokens, pure native expressions: for each bit
    position, sum ±1 over tokens by that bit of md5long(token), then sign.
    Single-expression ad-hoc form — the scale path is ``simhash_table``."""
    words = F.split(F.lower(F.regexp_replace(F.trim(text_col), r"\s+", " ")), " ")
    hashes = F.transform(words, lambda w: md5long(w))

    def _merge_for_bit(i: int):
        # closure factory: F.aggregate requires an exactly-2-arg merge lambda
        return lambda acc, h: acc + F.when(
            F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bits = []
    for i in range(SIMHASH_BITS):
        contrib = F.aggregate(hashes, F.lit(0).cast("long"), _merge_for_bit(i))
        bits.append(F.when(contrib > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long")))
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def simhash_table(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Scalable SimHash: explode word tokens, per-token compute the 60 ±1 bit
    contributions as tiny expressions, sum per id via partial-agg hash
    aggregation, then assemble the sign bits. Avoids the single-expression
    form (``simhash60``), whose embedded array-folds explode codegen compile
    time and recompute the tokenization per bit. md5-derived token hash →
    a DuckDB oracle reproduces the table bit-for-bit. (r6: single-split
    tokenization — same word array, one fewer regex pass; see _shingles.)"""
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    tok = _spread(df, id_col).select(
        F.col(id_col).alias("id"), F.explode(words).alias("w")
    ).withColumn("h", md5long(F.col("w")))
    # r6: sum the raw bit (0/1) and compare 2*ones > n_tokens instead of
    # summing a when(±1) branch — the ±1 fold is sum = 2*ones - n, so the
    # sign test is the same exact integer comparison with one branch-free
    # shift+mask per (token, bit) on the hot explode (guide §1.2).
    sums = tok.groupBy("id").agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.shiftright("h", i).bitwiseAND(F.lit(1))).alias(f"b{i}")
            for i in range(SIMHASH_BITS)
        ],
    )
    bit_expr = None
    for i in range(SIMHASH_BITS):
        b = F.when(
            F.col(f"b{i}") * 2 > F.col("__n"), F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        bit_expr = b if bit_expr is None else bit_expr.bitwiseOR(b)
    return sums.select("id", bit_expr.alias("sh"))


def _chunk_bounds(n_bits: int, n_chunks: int) -> list[tuple[int, int]]:
    """Split [0, n_bits) into n_chunks contiguous (start, width) spans covering
    every bit, widths differing by at most 1."""
    base, rem = divmod(n_bits, n_chunks)
    bounds, start = [], 0
    for i in range(n_chunks):
        width = base + (1 if i < rem else 0)
        bounds.append((start, width))
        start += width
    return bounds


def simhash_candidates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash with GUARANTEED recall at the requested
    distance: block on ``max_hamming + 1`` disjoint bit-chunks covering all 60
    bits — by pigeonhole, any pair within hamming ≤ max_hamming shares at
    least one intact chunk (round-1 fix: 4 fixed chunks only guaranteed ≤3
    while the API accepted any distance). Exact hamming verify on candidates.
    Equi-join on (chunk_idx, chunk_value): shuffle-friendly, no cross join;
    the simhash table is materialized once via localCheckpoint (blocks freed
    on GC — round 1's persist leak fixed). NOTE: larger
    max_hamming means narrower chunks → fewer distinct chunk values → more
    candidates to verify; beyond ~7 the verify volume approaches quadratic on
    near-uniform corpora — that is inherent to single-level chunk blocking."""
    n_chunks = max_hamming + 1
    sh = simhash_table(df, text_col, id_col).localCheckpoint(eager=True)
    chunks = sh.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("ci"),
                        F.shiftright("sh", start)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("cv"),
                    )
                    for ci, (start, width) in enumerate(_chunk_bounds(SIMHASH_BITS, n_chunks))
                ]
            )
        ).alias("c"),
    ).select("id", "sh", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))
    a, b = chunks.alias("a"), chunks.alias("b")
    hamming = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    return (
        a.join(b, on=["ci", "cv"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --------------------------------------------------------------------------
# Dedup survivorship: connected components over the near-dup pair graph
# --------------------------------------------------------------------------

def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    max_iter: int = 25,
) -> DataFrame:
    """Label each node with the MIN id reachable through the pair graph —
    the canonical-representative step every dedup pipeline needs after pair
    generation (keep one doc per near-dup cluster).

    Min-label propagation with pointer jumping: each round,
    label := min(label, neighbors' labels, label-of-label). The neighbor
    step moves labels one hop; the pointer-jump step (join labels against
    themselves) halves the remaining path each round, so convergence is
    O(log diameter) rounds, not O(diameter) — a 1M-long chain needs ~20
    rounds, safely inside ``max_iter``. Stop when a round changes nothing
    (checked via ``observe`` on the same job that materializes the round —
    no extra actions). Every step is an equi-join + partial-agg min — no
    cross joins, labels shrink monotonically. ``localCheckpoint`` truncates
    the per-round lineage so plans stay O(1) deep. If ``max_iter`` rounds
    pass without a fixpoint, raise instead of returning a silently-partial
    labeling.

    edges: (id_a, id_b) undirected; nodes: distinct ``id_col``.
    Returns (id, cluster_id).
    """
    from pyspark.sql import Observation

    sym = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionAll(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    sym = sym.localCheckpoint(eager=True)
    lbl = (
        nodes.select(F.col(id_col).alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr = (
            sym.join(lbl, sym["dst"] == lbl["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nl"))
        )
        jump = lbl.select(F.col("id").alias("jid"), F.col("label").alias("jl"))
        obs = Observation()
        nxt = (
            lbl.join(nbr, lbl["id"] == nbr["src"], "left")
            .join(jump, lbl["label"] == jump["jid"], "left")
            .select(
                lbl["id"],
                F.col("label").alias("__old"),
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nl"), F.col("label")),
                    F.coalesce(F.col("jl"), F.col("label")),
                ).alias("label"),
            )
            .observe(obs, F.sum((F.col("label") != F.col("__old")).cast("long")).alias("chg"))
            .select("id", "label")
            .localCheckpoint(eager=True)
        )
        lbl = nxt
        if int(obs.get["chg"] or 0) == 0:
            return lbl.select("id", F.col("label").alias("cluster_id"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Full survivorship: cluster docs by the near-dup pair graph, keep the
    min-id doc per cluster. Returns (doc_id, cluster_id, cluster_size,
    is_canonical) for every input doc (singletons form their own cluster)."""
    # connected_components seeds its labels from df's ids, so every input
    # doc comes back labeled (singletons label themselves) — no fallback
    # join needed
    labeled = connected_components(pairs, df.select(id_col), id_col=id_col)
    sizes = labeled.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        labeled.join(sizes, "cluster_id")
        .select(
            F.col("id").alias(id_col),
            "cluster_id",
            "cluster_size",
            (F.col("id") == F.col("cluster_id")).alias("is_canonical"),
        )
    )


# --------------------------------------------------------------------------
# n-gram Jaccard (exact similarity on candidate or small sets)
# --------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity pairs ≥ threshold.

    Strategy: explode distinct shingles → equi-join on shingle → count
    intersections per pair → Jaccard = inter / (|A|+|B|-inter). The join is
    on the shingle value; a stop-shingle appearing in d docs produces O(d²)
    join rows, so at scale ALWAYS set ``df_cap``: shingles with document
    frequency > df_cap are excluded from both the intersection AND the set
    sizes (consistent approximate-Jaccard over the capped shingle universe).
    Off (exact) by default so the DuckDB oracle matches bit-for-bit.
    """
    # materialize the exploded shingle frame ONCE: it feeds the sizes agg
    # and both self-join sides; without the checkpoint the dominant cost
    # (text scan + explode) runs 3x per call (same fix incremental_jaccard_
    # pairs already carries; blocks are freed when the plan is GC'd)
    sh = _df_capped_shingles(df, text_col, id_col, n, df_cap).localCheckpoint(eager=True)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def incremental_jaccard_pairs(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.2,
    df_cap: int | None = None,
) -> DataFrame:
    """Incremental dedup: near-dup pairs of NEW documents against an
    EXISTING corpus (the every-ingest shape of a training-data lake — you
    dedup the incoming batch against the lake, never the lake against
    itself). Asymmetric shingle equi-join: |new| × avg-bucket, not
    |corpus|²; with daily increments this is ~1000× cheaper at 100 TB than
    re-running pairwise dedup. Same shingle/df-cap machinery as
    ``ngram_jaccard_pairs``; returns (new_id, corpus_id, jaccard)."""
    # ONE shingle explode per side, materialized (localCheckpoint blocks are
    # freed by the ContextCleaner on GC — the same persist-without-leak the
    # MinHash path uses): the frame feeds BOTH the join and the Jaccard
    # denominators, which previously re-exploded the full corpus a second
    # time per side. At 100 TB the corpus-side explode is a precomputed
    # write-time artifact anyway; within one call, never compute it twice.
    ns = _df_capped_shingles(new_df, text_col, id_col, n, None).localCheckpoint(eager=True)
    cs = _df_capped_shingles(corpus_df, text_col, id_col, n, None).localCheckpoint(eager=True)
    # Jaccard denominators use the UNCAPPED shingle sets (the cap prunes the
    # join, it must not redefine similarity) — sized BEFORE the cap join
    sizes_new = ns.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    sizes_cor = cs.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    if df_cap is not None:
        # df measured over the UNION (a stop-shingle is stoppy on both sides)
        keep = (
            ns.unionByName(cs)
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= df_cap)
            .select("shingle")
        )
        ns = ns.join(keep, "shingle")
        cs = cs.join(keep, "shingle")
    inter = (
        ns.alias("a")
        .join(cs.alias("b"), "shingle")
        .groupBy(F.col("a.id").alias("new_id"), F.col("b.id").alias("corpus_id"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return (
        inter.join(sizes_new.select(F.col("id").alias("new_id"), F.col("n_sh").alias("na")), "new_id")
        .join(sizes_cor.select(F.col("id").alias("corpus_id"), F.col("n_sh").alias("nb")), "corpus_id")
        .select(
            "new_id",
            "corpus_id",
            F.round(F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
