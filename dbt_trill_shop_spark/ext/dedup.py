"""Deduplication operators for LLM-training-data pipelines (SURVEY.md §2.9).

- exact dedup: hash-groupBy on a content fingerprint (md5).  At 100 TB the
  groupBy shuffles only (fingerprint, doc_id) — 48 bytes/row — never the text.
- exact n-gram Jaccard / asymmetric containment: common-shingle joins
  (documents only meet if they share a shingle), shingle relation
  checkpointed once.
- banded near-dup, MinHash (xxhash64 or md5 minwise order) and SimHash
  (xxhash64 64-bit or md5 60-bit fingerprints), built from private cores
  that take only the hash and the bit width:
  ``_band_rows`` (the one long-form (id, bidx, bk) band explode, and the
  one place a band count is validated), ``_band_pairs`` (the one
  (bidx, bk) self-join, an optional ``keep`` step before the pair
  distinct), ``_md5_minhash_sigs`` (the md5 minwise signatures),
  ``_simhash_pairs`` (banding plus the Hamming check) and
  ``_shingle_overlap``/``_verify_jaccard`` (the one exact verify:
  broadcast per-doc shingle-hash sets, integer size-ratio prefilter,
  ``array_intersect`` per candidate pair).  No O(n^2) cross join.
- connected components over the pair graph -> dedup groups; canonical-doc
  selection per group; benchmark decontamination (broadcast shingle
  anti-join); cross-source overlap reporting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from ..localrel import values_relation


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical texts by md5 fingerprint; keep the smallest id as
    canonical.  Exact, deterministic, SQL-expressible (oracle-checkable)."""
    return (
        docs.select(F.md5(F.col(text_col).cast("binary")).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).cast("bigint").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


EXACT_DUPLICATES_SQL = """
SELECT md5(text) AS fingerprint,
       CAST(MIN(doc_id) AS BIGINT) AS canonical_doc_id,
       COUNT(*) AS dup_count
FROM documents
GROUP BY md5(text)
"""


def dedup_exact(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Return docs with exact-duplicate texts removed (canonical = min id).

    Implemented as groupBy-min + semi join rather than dropDuplicates so the
    kept row is deterministic (dropDuplicates keeps an arbitrary row).  The
    group key is md5(text), not the raw text — the canonical-pick shuffle
    then moves a 16-byte key per row instead of the full document (the same
    fingerprint trade as :func:`dedup_canonical`; a 128-bit collision merging
    two distinct texts is negligible at any realistic corpus size)."""
    keep = (
        docs.select(
            F.md5(F.col(text_col).cast("binary")).alias("__fp"), F.col(id_col)
        )
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return docs.join(keep, on=id_col, how="left_semi")


def _distinct_shingle_rel(docs: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, s): the DISTINCT word-level n-gram shingles of each document,
    same sliding window as the MinHash signatures.

    The token array is bound in its OWN projection before the sliding-window
    lambda: higher-order functions are interpreted per element, so a
    ``split()`` referenced inside the lambda body re-tokenizes the document
    once per shingle (O(len²) — measured 4.5× slower at sf0.1).

    Parallelism floor (double-gated): the shingle explode is the most
    compute-bound stage of the whole near-dup family, and chained on a
    ONE-row-group scan it runs on a single task no matter how many cores
    the session has (the SCALE.md one-row-group lesson; 42.5 s → 33.4 s
    across the 11-query family at sf0.1).  Round-robin the (id, text) rows
    out first when BOTH hold: the scan provides fewer splits than half the
    cluster's parallelism, AND the input is big enough for the scatter to
    pay for its task overhead (≥256 KB on disk — below that, 32 mostly-
    empty tasks cost more than the single-task explode, measured +33 s
    across the sf0.001 bench).  At corpus scale a real dataset has
    thousands of row groups, the first gate never fires, and text keeps
    riding zero exchanges; at eval scale the one-time scatter of a few MB
    is the honest stand-in for the splits the tiny file can't provide."""
    spark = docs.sparkSession
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < max(2, par // 2):
        import os as _os
        from urllib.parse import unquote, urlparse

        try:
            nbytes = sum(
                _os.path.getsize(unquote(urlparse(f).path))
                for f in docs.inputFiles()
                if f.startswith("file:")
            )
        except Exception:
            nbytes = 0
        if nbytes >= (256 << 10):
            docs = docs.repartition(par)
    base = docs.select(F.col(id_col), F.split(F.col(text_col), r"\s+").alias("_t"))
    arr = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size("_t") - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(F.col("_t"), i + 1, n)),
        ),
        lambda s: s != "",
    )
    return base.select(F.col(id_col), F.explode(F.array_distinct(arr)).alias("s"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_len: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity for every pair above ``threshold``.

    Scale shape: pairs are generated by a join on the shingle value — only
    documents *sharing a shingle* ever meet, so the plan is
    explode -> shuffle on shingle -> count pairs, never an O(n^2) cross join.
    The shuffle key is the 8-byte xxhash64 of the shingle, not the string
    (collision odds ~ |shingles|^2 / 2^64 — negligible; the docstring of the
    oracle uses raw strings, which is the same modulo that epsilon).
    Jaccard = |A ∩ B| / (|A| + |B| - |A ∩ B|) over *distinct* shingle sets,
    rounded to 9 dp so the division is cross-engine stable.
    """
    sh = _distinct_shingle_rel(docs, text_col, id_col, shingle_len).select(
        id_col, F.xxhash64("s").alias("sh")
    )
    # materialize the shingle relation once (CTE-MATERIALIZED semantics):
    # it feeds the sizes agg AND both self-join sides, and the explode is the
    # single most expensive stage — lazy, it would run 3x (43% slower e2e)
    sh = sh.localCheckpoint(eager=True)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "sh")
    b = sh.select(F.col(id_col).alias("id_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 9
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


NGRAM_JACCARD_SQL_TEMPLATE = r"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(text, '\s+') AS tokens FROM documents
),
shingles AS (
    SELECT DISTINCT doc_id, s
    FROM (
        SELECT doc_id,
               unnest(list_transform(
                   range(0, GREATEST(LEN(tokens) - {n}, 0) + 1),
                   i -> array_to_string(tokens[i + 1 : i + {n}], ' ')
               )) AS s
        FROM toks
    ) t
    WHERE s <> ''
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
    FROM shingles a JOIN shingles b USING (s)
    WHERE a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 9) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 9) >= {threshold}
"""


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document from word-level xxhash64 token hashes.

    Pure Column expressions: for each of 64 bits, sum +-1 over token hashes'
    bit values, then sign -> bit.  Deterministic (xxhash64 seed fixed by Spark).
    """
    # signed-64 bit masks: bit 63 is the sign bit, so its mask is -(2^63)
    # (written shiftleft(1L, 63) — the min-long literal does not parse as
    # a bare constant).  The 64 aggregates and the 64-branch recombination
    # are emitted as SQL strings parsed JVM-side: Column-by-Column they
    # are ~800 py4j round-trips of pure driver time per call (the
    # bootstrap_mean_ci lesson); the parsed trees are identical.
    def _mask(i: int) -> str:
        return f"{1 << i}L" if i < 63 else "shiftleft(1L, 63)"

    toks = docs.select(id_col, F.explode(F.split(F.col(text_col), r"\s+")).alias("tok"))
    hashed = toks.select(id_col, F.xxhash64("tok").alias("h"))
    bit_sums = hashed.groupBy(id_col).agg(
        *[
            F.expr(
                f"sum(CASE WHEN (h & {_mask(i)}) != 0 THEN 1 ELSE -1 END)"
            ).alias(f"b{i}")
            for i in range(64)
        ]
    )
    sim = bit_sums.select(
        F.col(id_col),
        F.expr(
            "("
            + " + ".join(
                f"CASE WHEN b{i} > 0 THEN {_mask(i)} ELSE 0L END"
                for i in range(64)
            )
            + ")"
        ).alias("simhash"),
    )
    return sim


def simhash_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    max_hamming: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (id_a, id_b, hamming) whose SimHash
    matches on >=1 of ``bands`` bands — one long-form (bidx, bk) self-join
    (shuffle on a short key), de-duplicated; ``hamming`` is the bigint
    popcount of the fingerprints' xor.

    ``max_hamming`` applies the popcount filter on the band-join rows,
    before the distinct — with narrow bands (8 bands = 8-bit keys) random
    collisions otherwise flood the candidate relation (5.1M pairs at 5k
    docs observed; hamming<=12 keeps the true near-dups and drops the noise
    before it ever rides the distinct shuffle)."""
    sim = simhash(docs, text_col, id_col)
    return _simhash_pairs(
        sim.select(id_col, F.col("simhash").alias("fp")), id_col, 64, bands,
        max_hamming,
    )


def _band_rows(
    sigs: DataFrame, id_col: str, n: int, bands: int, band_key, carry=()
) -> DataFrame:
    """LONG-FORM banding, the one band explode of every sketch family:
    split an ``n``-component sketch (MinHash values or fingerprint bits)
    into ``bands`` bands of ``r = n // bands`` components, key band b by
    ``band_key(b, r)``, and return one (id, *carry, bidx, bk) row per band.
    One (bidx, bk) self-join over these rows (:func:`_band_pairs`) replaces
    ``bands`` separate joins unioned: the same pair set (a pair collides on
    band b iff it matches at that index either way) and the same shuffled
    bytes, but one exchange pair and one distinct instead of 2·bands
    exchanges and a bands-branch union.

    A band needs at least one component: ``bands`` outside ``[1, n]``
    would key every band on nothing (r = 0), so every document would
    collide with every other, silently and quadratically.  It raises
    instead."""
    if not 1 <= bands <= n:
        raise ValueError(
            f"bands={bands} must lie in [1, {n}] for a sketch of {n} "
            "components (MinHash num_hashes or SimHash bits): r = "
            f"{n} // bands rows per band must be at least 1"
        )
    r = n // bands
    return sigs.select(
        F.col(id_col),
        *carry,
        F.posexplode(F.array(*[band_key(b, r) for b in range(bands)])).alias(
            "bidx", "bk"
        ),
    )


def _band_pairs(
    banded: DataFrame, id_col: str, min_matches: int = 1, keep=None
) -> DataFrame:
    """The one (bidx, bk) self-join over :func:`_band_rows` output: pairs
    (id_a < id_b) colliding on at least ``min_matches`` bands.  Carried
    columns ride both sides as ``<col>_a``/``<col>_b``.

    ``keep`` maps the raw per-band pair rows to the rows worth keeping
    (default: the id pair); it runs BEFORE the pair distinct, so a cheap
    per-row check like SimHash's Hamming filter shrinks the exchange the
    distinct needs instead of riding it.  ``min_matches > 1`` replaces the
    distinct with a per-pair band count (:func:`minhash_banded_candidates`
    says why), which rides the same aggregate."""
    carry = [c for c in banded.columns if c not in (id_col, "bidx", "bk")]

    def side(s: str) -> DataFrame:
        return banded.select(
            F.col(id_col).alias(f"id_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
            "bidx", "bk",
        )

    pairs = side("a").join(side("b"), ["bidx", "bk"]).filter(
        F.col("id_a") < F.col("id_b")
    )
    pairs = keep(pairs) if keep is not None else pairs.select("id_a", "id_b")
    if min_matches <= 1:
        return pairs.distinct()
    return (
        pairs.groupBy(*pairs.columns)
        .agg(F.count(F.lit(1)).alias("_m"))
        .filter(F.col("_m") >= min_matches)
        .drop("_m")
    )


def _simhash_pairs(
    fps: DataFrame, id_col: str, bits: int, bands: int, max_hamming: int | None
) -> DataFrame:
    """(id_a, id_b, hamming) for the ``fp`` fingerprints (``bits`` wide)
    that agree on at least one of ``bands`` bit bands, with the bigint
    Hamming distance at most ``max_hamming`` when one is given — the one
    SimHash stack under both hash functions.  The fingerprint rides the
    band rows, so the XOR+bit_count check is a per-row op on the join
    output and runs before the pair distinct."""

    def band_key(b: int, w: int):
        # a 64-bit band (bands=1 over 64 bits) is the whole signed long
        mask = (1 << w) - 1 if w < 64 else -1
        return F.shiftright(F.col("fp"), b * w).bitwiseAND(F.lit(mask))

    # the band rows feed both sides of the self-join — materialize once or
    # the fingerprint aggregation re-runs per side
    banded = _band_rows(fps, id_col, bits, bands, band_key, carry=("fp",))
    banded = banded.localCheckpoint(eager=True)

    def keep(pairs: DataFrame) -> DataFrame:
        ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("bigint")
        pairs = pairs.select("id_a", "id_b", ham.alias("hamming"))
        if max_hamming is None:
            return pairs
        return pairs.filter(F.col("hamming") <= max_hamming)

    return _band_pairs(banded, id_col, keep=keep)


def simhash_neardup_verified(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 8,
    shingle_len: int = 3,
    jaccard_threshold: float = 0.85,
    max_hamming: int = 12,
) -> DataFrame:
    """SimHash-banded candidates -> EXACT n-gram Jaccard verification — the
    production near-dup shape (candidates cheap and hash-based, the verify
    stage exact), same recipe as :func:`neardup_minhash_native`.

    Output: (id_a, id_b, jaccard) for candidate pairs with exact Jaccard >=
    ``jaccard_threshold``.  The verify stage is deterministic and
    SQL-expressible, which makes this entry VALUE-HASH ORACLE-CHECKABLE even
    though the candidate stage rides xxhash64 (which no oracle engine can
    replay): by pigeonhole, a pair whose fingerprints differ in fewer than
    ``bands`` bits MUST agree on at least one band, so with 8 bands every
    pair within hamming 7 is guaranteed in the candidate set.  Near-identical
    pairs (J >= ~0.85, the only ones the threshold keeps) sit at hamming <= ~9
    empirically, and a hamming-h pair with h >= bands still collides unless
    its flipped bits cover all bands (~1% miss at h=9, b=8) — so at the eval
    corpus the candidate set provably/empirically contains every pair the
    exact filter keeps, and output == brute-force Jaccard >= threshold.

    ``max_hamming=12`` (3 above the observed true-pair maximum) trims the
    8-bit-band collision noise before the pair distinct.  On template-heavy
    corpora the surviving candidate set is still large (synthetic docs share
    vocabulary, so fingerprints correlate: ~950k pairs at 5k docs), which is
    what the pair-scoring verify (:func:`_verify_jaccard`) is shaped for."""
    cands = simhash_near_duplicates(
        docs, text_col, id_col, bands, max_hamming=max_hamming
    ).select("id_a", "id_b")
    return _verify_jaccard(
        cands, docs, text_col, id_col, shingle_len, jaccard_threshold
    )


def _shingle_overlap(
    pairs: DataFrame,
    docs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_len: int,
    threshold: float = 0.0,
) -> DataFrame:
    """(id_a, id_b, _na, _nb, _ni) per candidate pair: the bigint sizes of
    both documents' distinct shingle sets and of their intersection — the
    one exact-verify core of the banded near-dup pipelines.

    It scores each CANDIDATE PAIR directly: per-doc shingle-hash sets ride
    a broadcast relation (|docs| rows of ~45 int64s) joined onto the pair
    list, and the intersection is one ``array_intersect`` per pair.  A
    common-shingle join would instead regenerate every template collision
    as pair rows (its fan-out is Σ_shingle df²), and a per-pair probe join
    would shuffle |pairs| × |shingles| rows; here the pair relation never
    shuffles and text never rides an exchange.  Set elements are xxhash64
    of the shingle (collision odds ~ |shingles|² / 2^64, as in
    :func:`ngram_jaccard_pairs`).

    Pairs whose set sizes cannot reach Jaccard ``threshold`` drop before
    the intersect: J = |∩|/|∪| <= min(na,nb)/max(na,nb), an integer
    comparison that skips the O(na+nb) intersect for the bulk of the
    template-collision candidates.  Integer math at the final filter's
    1e-9 granularity, floored: a float `min >= t*max` would drop a
    boundary pair whenever t's double rounds UP (t=0.9, min/max = 9/10
    passes the rounded-J filter but 9 < 0.9000…0002*10); flooring the
    scaled threshold keeps the bound conservative — the exact J filter
    still decides, so no false negatives ever."""
    sets = (
        _distinct_shingle_rel(docs, text_col, id_col, shingle_len)
        .groupBy(id_col)
        .agg(F.collect_set(F.xxhash64("s")).alias("_sh"))
        .select(id_col, "_sh", F.array_size("_sh").cast("bigint").alias("_n"))
    )

    def side(s: str) -> DataFrame:
        return F.broadcast(
            sets.select(
                F.col(id_col).alias(f"id_{s}"),
                F.col("_sh").alias(f"_s{s}"),
                F.col("_n").alias(f"_n{s}"),
            )
        )

    return (
        pairs.join(side("a"), "id_a")
        .join(side("b"), "id_b")
        .filter(
            F.least("_na", "_nb") * F.lit(1_000_000_000)
            >= F.lit(int(threshold * 1e9)) * F.greatest("_na", "_nb")
        )
        .select(
            "id_a", "id_b", "_na", "_nb",
            F.array_size(F.array_intersect("_sa", "_sb")).cast("bigint").alias("_ni"),
        )
    )


def _verify_jaccard(
    pairs: DataFrame,
    docs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_len: int,
    threshold: float,
) -> DataFrame:
    """(id_a, id_b, jaccard) for the candidate pairs whose EXACT n-gram
    Jaccard (rounded to 9 dp, as :func:`ngram_jaccard_pairs`) reaches
    ``threshold`` — the verify stage of every banded near-dup pipeline,
    scored by :func:`_shingle_overlap`."""
    ni, na, nb = F.col("_ni"), F.col("_na"), F.col("_nb")
    return (
        _shingle_overlap(pairs, docs, text_col, id_col, shingle_len, threshold)
        .select("id_a", "id_b", F.round(ni / (na + nb - ni), 9).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_len: int = 3,
) -> DataFrame:
    """Native MinHash signatures without Spark ML: explode distinct shingles
    once, apply ``num_hashes`` seeded xxhash64 functions, take per-doc mins in
    ONE aggregation pass (num_hashes min() aggs).  Shuffle volume =
    |shingles| rows of (id, 8B hash) — the text never moves.

    Public scheme: Broder's minwise hashing; h_i(s) = xxhash64(s, seed=i).
    """
    sh = _distinct_shingle_rel(docs, text_col, id_col, shingle_len)
    return sh.groupBy(id_col).agg(
        *[F.min(F.xxhash64(F.lit(i), F.col("s"))).alias(f"mh{i}") for i in range(num_hashes)]
    )


def minhash_banded_candidates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    min_band_matches: int = 1,
) -> DataFrame:
    """LSH banding over native signatures: hash each band of r = n/b minhash
    values to one 64-bit band key, one long-form self-join on
    (band_idx, key), distinct.  A pair collides iff some band matches — the
    standard (b, r) S-curve; with b=4, r=4 the 50%-collision point is
    ~J=0.7.  Join key is 12 bytes; candidate pairs then need exact
    verification.

    ``min_band_matches`` raises the collision bar from >=1 matching band to
    >=m — with r=1 the match count IS the MinHash similarity estimate
    (m/bands ~ J), so m>=4 of 16 keeps every J >= ~0.5 pair (binomial tail
    below 1e-10) while dropping the single-hash random collisions that
    otherwise make every doc a verify candidate."""
    banded = _band_rows(
        sigs, id_col, num_hashes, bands,
        lambda b, r: F.xxhash64(*[F.col(f"mh{b * r + j}") for j in range(r)]),
    )
    # the signature pipeline (explode + num_hashes aggs) would otherwise run
    # once per join side — the banded relation is tiny (bands rows of 16
    # bytes per doc), so materializing it is cheap insurance
    banded = banded.localCheckpoint(eager=True)
    return _band_pairs(banded, id_col, min_band_matches)


def neardup_minhash_native(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_len: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    min_band_matches: int = 1,
) -> DataFrame:
    """Production-shaped near-dup pipeline (C4/Gopher recipe, public):
    banded-MinHash candidate generation -> EXACT n-gram Jaccard verification
    of only the candidate pairs.  Output: (id_a, id_b, jaccard) above
    threshold.  False-positive-free (exact verify); false negatives bounded
    by the (b, r) S-curve.  All JVM-side Column ops; the verify scores the
    candidate pairs only (:func:`_verify_jaccard`)."""
    sigs = minhash_signatures(docs, text_col, id_col, num_hashes, shingle_len)
    cands = minhash_banded_candidates(
        sigs, id_col, num_hashes, bands, min_band_matches
    )
    return _verify_jaccard(
        cands, docs, text_col, id_col, shingle_len, jaccard_threshold
    )


def ngram_jaccard_pairs_filtered(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_len: int = 3,
    threshold: float = 0.2,
    max_doc_freq: int = 50,
) -> DataFrame:
    """Stop-shingle-filtered n-gram Jaccard — the scale-safe variant of
    ``ngram_jaccard_pairs`` (SCALE.md "known limits"): shingles occurring in
    more than ``max_doc_freq`` documents are dropped BEFORE pair generation,
    bounding the per-shingle join fan-out at max_doc_freq^2.  Jaccard is then
    computed over each document's *surviving* shingle set — deterministic, so
    still exactly oracle-checkable (the oracle mirrors the filter)."""
    # materialize the exploded relation BEFORE deriving doc frequencies: it
    # feeds the rare-shingle agg AND the semi join's left side, and lazy it
    # would run the explode twice (11.6 s -> 6.4 s at sf0.1)
    sh0 = (
        _distinct_shingle_rel(docs, text_col, id_col, shingle_len)
        .select(id_col, F.xxhash64("s").alias("sh"))
        .localCheckpoint(eager=True)
    )
    rare = sh0.groupBy("sh").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= max_doc_freq
    )
    # materialize the surviving shingles once too (see ngram_jaccard_pairs) —
    # downstream they feed the sizes agg and both self-join sides
    sh = sh0.join(rare.select("sh"), "sh", "left_semi").localCheckpoint(eager=True)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "sh")
    b = sh.select(F.col(id_col).alias("id_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 9
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


NGRAM_JACCARD_FILTERED_SQL_TEMPLATE = r"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(text, '\s+') AS tokens FROM documents
),
shingles0 AS (
    SELECT DISTINCT doc_id, s
    FROM (
        SELECT doc_id,
               unnest(list_transform(
                   range(0, GREATEST(LEN(tokens) - {n}, 0) + 1),
                   i -> array_to_string(tokens[i + 1 : i + {n}], ' ')
               )) AS s
        FROM toks
    ) t
    WHERE s <> ''
),
rare AS (
    SELECT s FROM shingles0 GROUP BY s HAVING COUNT(*) <= {max_doc_freq}
),
shingles AS (
    SELECT doc_id, s FROM shingles0 WHERE s IN (SELECT s FROM rare)
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
    FROM shingles a JOIN shingles b USING (s)
    WHERE a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 9) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 9) >= {threshold}
"""


def connected_components(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over a near-dup pair graph: every doc gets the
    MINIMUM doc id reachable through dup pairs as its component label — the
    step that turns pairwise matches into dedup groups (keep one per label).

    Algorithm: iterative min-label propagation (alternating large/small-star
    simplified): label <- min(label, min over neighbors' labels), repeated to
    fixpoint.  Each iteration is one shuffle on the edge key; convergence in
    O(log n) iterations for typical dup-cluster diameters (clusters are tiny:
    near-dup groups, not social graphs).  The driver-side loop checks a
    convergence aggregate per iteration — bounded by ``max_iterations``.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    )
    # materialize the edge list ONCE — `pairs` is typically an expensive
    # near-dup join, and without this every iteration's neigh join would
    # re-run it from scratch (observed 4x wall-time on the harness query)
    edges = edges.localCheckpoint(eager=True)
    # propagate only over nodes that appear in an edge: everything else keeps
    # its own id as label and never changes, so shuffling the full corpus's
    # label table through every iteration is pure waste.  At 100 TB the
    # touched set (dup candidates) is a small fraction of the corpus; the
    # loop then iterates over that fraction only.
    touched = edges.select(F.col("src").alias("node")).distinct().localCheckpoint(eager=True)
    labels = touched.select("node", F.col("node").alias("label"))
    for _ in range(max_iterations):
        # each node's candidate = min(neighbor labels); keep min(own, candidate)
        neigh = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        new = F.least(F.col("label"), F.coalesce("nlabel", F.col("label")))
        # the convergence flag rides along in the same checkpointed pass —
        # no extra new-vs-old join job per iteration
        stepped = labels.join(neigh, labels.node == neigh.src, "left").select(
            "node", new.alias("label"), (new != F.col("label")).alias("chg")
        )
        # LAZY checkpoint: the convergence probe below is the materializing
        # action (a full count of changed rows scans every partition, so
        # all blocks persist), fusing the old eager-checkpoint job and the
        # limit(1) probe job into ONE job per iteration — same verdict,
        # count > 0 iff any row changed.
        stepped = stepped.localCheckpoint(eager=False)  # cut lineage per iter
        changed = stepped.filter("chg").count()
        labels = stepped.select("node", "label")
        if changed == 0:
            break
    else:
        # min-label propagation did not reach fixpoint: a dup-pair chain
        # longer than max_iterations would get silently wrong group labels
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations} "
            "iterations (a component's diameter exceeds the budget); "
            "raise max_iterations"
        )
    # singletons (no edge) are their own component — joined back in one pass
    singles = ids.select(F.col(id_col).alias("node")).join(
        touched, "node", "left_anti"
    ).select("node", F.col("node").alias("label"))
    return labels.unionByName(singles).select(
        F.col("node").alias(id_col), F.col("label").alias("component")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_len: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination (public recipe, e.g. GPT-3 appendix C /
    FineWeb): drop corpus documents sharing >= ``min_overlap`` distinct
    n-gram shingles with any benchmark document.  Implemented as a shingle-
    hash anti-join: corpus shingles ⟕ benchmark shingle set (broadcast when
    small), so the corpus text itself never shuffles."""
    def sh(df):
        return _distinct_shingle_rel(df, text_col, id_col, shingle_len).select(
            id_col, F.xxhash64("s").alias("sh")
        )

    bench_sh = sh(benchmark).select("sh").distinct()
    hits = (
        sh(corpus)
        .join(F.broadcast(bench_sh), "sh", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
        .select(id_col)
    )
    return corpus.join(hits, id_col, "left_anti")


# Oracle for connected_components over the exact-Jaccard pair graph: the
# transitive closure as a recursive CTE (UNION dedups -> terminates), then
# min reachable id per node.  {jaccard_pairs} is a full pair-producing query.
CONNECTED_COMPONENTS_SQL_TEMPLATE = """
WITH RECURSIVE jp AS ({jaccard_pairs}),
edges AS (
    SELECT id_a AS s, id_b AS d FROM jp
    UNION
    SELECT id_b AS s, id_a AS d FROM jp
),
reach(node, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.s, reach.r FROM edges e JOIN reach ON reach.node = e.d
)
SELECT node AS doc_id, MIN(r) AS component FROM reach GROUP BY node
"""


DECONTAMINATE_SQL_TEMPLATE = r"""
WITH corpus AS (SELECT * FROM documents WHERE doc_id >= {split_id}),
bench AS (SELECT * FROM documents WHERE doc_id < {split_id}),
shingle AS (
    SELECT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(
                   range(0, GREATEST(LEN(regexp_split_to_array(text, '\s+')) - {n}, 0) + 1),
                   i -> array_to_string(regexp_split_to_array(text, '\s+')[i + 1 : i + {n}], ' ')
               )) AS s
        FROM corpus
    ) t WHERE s <> ''
),
bench_sh AS (
    SELECT DISTINCT s FROM (
        SELECT unnest(list_transform(
                   range(0, GREATEST(LEN(regexp_split_to_array(text, '\s+')) - {n}, 0) + 1),
                   i -> array_to_string(regexp_split_to_array(text, '\s+')[i + 1 : i + {n}], ' ')
               )) AS s
        FROM bench
    ) t WHERE s <> ''
),
contaminated AS (
    SELECT DISTINCT doc_id FROM (SELECT DISTINCT doc_id, s FROM shingle) cs
    WHERE s IN (SELECT s FROM bench_sh)
)
SELECT doc_id FROM corpus WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
ORDER BY doc_id
"""


def dedup_canonical(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Canonical-document selection: group by content fingerprint, keep the
    best representative per group (longest token count, then smallest id) and
    report the group size — the policy step after duplicate detection.

    The group key is md5(text), not the raw text: the shuffle then moves a
    16-byte key instead of full documents, and the same code works when the
    key is swapped for a near-dup component label.  Single window over the
    hash-partitioned groups; WindowGroupLimit prunes non-winners before the
    final sort at each partition.
    """
    n_tokens = F.size(F.split(F.col(text_col), " ")).cast("bigint")
    keyed = docs.select(
        F.col(id_col),
        F.md5(F.col(text_col).cast("binary")).alias("group_key"),
        n_tokens.alias("n"),
    )
    w = Window.partitionBy("group_key")
    ranked = keyed.select(
        id_col,
        "group_key",
        F.row_number()
        .over(w.orderBy(F.desc("n"), F.asc(id_col)))
        .alias("rn"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("group_size"),
    )
    return ranked.filter(F.col("rn") == 1).select(id_col, "group_key", "group_size")


DEDUP_CANONICAL_SQL = """
WITH keyed AS (
    SELECT doc_id, md5(text) AS group_key,
           CAST(LEN(STR_SPLIT(text, ' ')) AS BIGINT) AS n
    FROM documents
),
ranked AS (
    SELECT doc_id, group_key,
           ROW_NUMBER() OVER (PARTITION BY group_key ORDER BY n DESC, doc_id ASC) AS rn,
           CAST(COUNT(*) OVER (PARTITION BY group_key) AS BIGINT) AS group_size
    FROM keyed
)
SELECT doc_id, group_key, group_size FROM ranked WHERE rn = 1
"""


def source_overlap(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_len: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Corpus-curation report: near-duplicate pressure BETWEEN sources —
    for each (source_a <= source_b) pair, how many above-threshold n-gram
    Jaccard pairs cross them and the mean similarity (in exact 1e-9 units,
    summed as int64 so the mean is engine-order independent).

    The heavy lifting is :func:`ngram_jaccard_pairs`; this adds two broadcast
    joins against the tiny (id -> source) projection and one low-cardinality
    aggregation — the standard "pair facts, dimension rollup" shape.
    """
    pairs = ngram_jaccard_pairs(
        docs, text_col=text_col, id_col=id_col, shingle_len=shingle_len, threshold=threshold
    )
    src = docs.select(F.col(id_col), F.col("source"))
    a = src.select(F.col(id_col).alias("id_a"), F.col("source").alias("src_a"))
    b = src.select(F.col(id_col).alias("id_b"), F.col("source").alias("src_b"))
    tagged = (
        pairs.join(F.broadcast(a), "id_a")
        .join(F.broadcast(b), "id_b")
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
            F.round(F.col("jaccard") * 1_000_000_000, 0).cast("bigint").alias("j9"),
        )
    )
    return (
        tagged.groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                (F.sum("j9").cast("double") / F.count(F.lit(1))) / 1_000_000_000.0, 6
            ).alias("mean_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


SOURCE_OVERLAP_SQL_TEMPLATE = """
WITH jp AS ({jaccard_pairs}),
tagged AS (
    SELECT LEAST(da.source, db.source) AS source_a,
           GREATEST(da.source, db.source) AS source_b,
           CAST(ROUND(jp.jaccard * 1000000000, 0) AS BIGINT) AS j9
    FROM jp
    JOIN documents da ON da.doc_id = jp.id_a
    JOIN documents db ON db.doc_id = jp.id_b
)
SELECT source_a, source_b,
       COUNT(*) AS n_pairs,
       ROUND((CAST(SUM(j9) AS DOUBLE) / COUNT(*)) / 1000000000.0, 6) AS mean_jaccard
FROM tagged
GROUP BY source_a, source_b
ORDER BY source_a, source_b
"""


def ngram_containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_len: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """ASYMMETRIC near-duplication: containment(A in B) = |A∩B| / |A| over
    distinct shingle sets — flags documents mostly CONTAINED in another
    (quote + boilerplate, truncated copies), which symmetric Jaccard
    under-scores when sizes differ.  Emits (contained_id, container_id,
    containment) for every ordered pair above threshold, both directions
    scored independently.

    Same common-shingle join shape as :func:`ngram_jaccard_pairs` (no cross
    join; shingle relation checkpointed once); containment is an exact
    integer ratio rounded to 9 dp.
    """
    sh = _distinct_shingle_rel(docs, text_col, id_col, shingle_len).select(
        id_col, F.xxhash64("s").alias("sh")
    )
    sh = sh.localCheckpoint(eager=True)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "sh")
    b = sh.select(F.col(id_col).alias("id_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    return (
        inter.join(sa, "id_a")
        .select(
            F.col("id_a").alias("contained_id"),
            F.col("id_b").alias("container_id"),
            F.round(F.col("n_inter") / F.col("n_a"), 9).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


NGRAM_CONTAINMENT_SQL_TEMPLATE = r"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(text, '\s+') AS tokens FROM documents
),
shingles AS (
    SELECT DISTINCT doc_id, s
    FROM (
        SELECT doc_id,
               unnest(list_transform(
                   range(0, GREATEST(LEN(tokens) - {n}, 0) + 1),
                   i -> array_to_string(tokens[i + 1 : i + {n}], ' ')
               )) AS s
        FROM toks
    ) t
    WHERE s <> ''
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
    FROM shingles a JOIN shingles b USING (s)
    WHERE a.doc_id != b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT id_a AS contained_id, id_b AS container_id,
       ROUND(CAST(n_inter AS DOUBLE) / sa.n_sh, 9) AS containment
FROM inter JOIN sizes sa ON sa.doc_id = id_a
WHERE ROUND(CAST(n_inter AS DOUBLE) / sa.n_sh, 9) >= {threshold}
"""


def incremental_dedup(
    batch: DataFrame,
    seen: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup an incoming batch against the fingerprints already ingested —
    the continuous-ingestion shape of exact dedup (a training corpus is
    built batch by batch; each batch must drop rows whose content any
    EARLIER batch already contributed, without rescanning that corpus).

    ``seen`` is the persisted fingerprint store as a DataFrame (single
    ``fingerprint`` column; None or empty for the first batch).  Returns the
    batch's surviving rows as (doc_id, fingerprint): canonical-per-
    fingerprint within the batch (min id), then anti-joined against
    ``seen``.

    At 100 TB the anti-join ships only (fingerprint, doc_id) pairs — 48
    bytes a row, never the text — and the store side stays where it is:
    bucket the store table by fingerprint and the shuffle is one-sided
    (the small batch moves to the store's partitioning).
    """
    fp = batch.select(
        F.md5(F.col(text_col).cast("binary")).alias("fingerprint"),
        F.col(id_col),
    )
    canon = fp.groupBy("fingerprint").agg(
        F.min(id_col).cast("bigint").alias(id_col)
    )
    if seen is not None:
        canon = canon.join(
            seen.select("fingerprint"), on="fingerprint", how="left_anti"
        )
    return canon.select(id_col, "fingerprint")


def incremental_dedup_store(
    spark,
    batch: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Stateful wrapper around :func:`incremental_dedup`: reads the
    fingerprint store at ``store_path`` (if present), dedups the batch
    against it, appends the surviving fingerprints, and returns the
    surviving (doc_id, fingerprint) rows — materialized BEFORE the append
    so the result never reads its own output."""
    import os

    seen = spark.read.parquet(store_path) if os.path.exists(store_path) else None
    kept = incremental_dedup(batch, seen, text_col=text_col, id_col=id_col)
    kept = kept.localCheckpoint(eager=True)  # pin rows pre-append
    kept.select("fingerprint").write.mode("append").parquet(store_path)
    spark.catalog.refreshByPath(store_path)
    return kept


INCREMENTAL_DEDUP_SQL_TEMPLATE = """
WITH fp AS (
    SELECT doc_id, md5(text) AS fingerprint FROM documents
),
seen AS (
    SELECT DISTINCT fingerprint FROM fp WHERE doc_id < {split}
),
canon AS (
    SELECT fingerprint, CAST(MIN(doc_id) AS BIGINT) AS doc_id
    FROM fp WHERE doc_id >= {split}
    GROUP BY fingerprint
)
SELECT c.doc_id, c.fingerprint
FROM canon c ANTI JOIN seen s ON s.fingerprint = c.fingerprint
"""


def dup_span_coverage(
    docs: DataFrame,
    shingle_len: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicated-text fraction (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): the share of a document's
    tokens covered by some ``shingle_len``-gram that also occurs in ANOTHER
    document.  Doc-level near-dup filters miss partial boilerplate; this is
    the standard metric for it.

    Plan shape: positional shingle explode (narrow) -> duplicated-shingle
    set via a count-distinct-docs aggregate on the 8-byte shingle hash ->
    semi join back -> covered token indices via a clamped sequence explode
    -> distinct + count per doc.  Only (hash, doc, pos) rows ever shuffle —
    never text — and the shingle relation is checkpointed once for its two
    consumers.  Output: (doc_id, n_tokens, covered_tokens, dup_ppm).
    """
    n = shingle_len
    tokens = F.split(F.col(text_col), r"\s+")
    base = docs.select(
        F.col(id_col), tokens.alias("t"), F.size(tokens).alias("n_tokens")
    )
    starts = F.sequence(F.lit(0), F.greatest(F.size("t") - n, F.lit(0)))
    sh = (
        base.select(id_col, "n_tokens", "t", F.explode(starts).alias("pos"))
        .select(
            id_col,
            "n_tokens",
            "pos",
            F.concat_ws(" ", F.slice("t", F.col("pos") + 1, n)).alias("s"),
        )
        .filter(F.col("s") != "")
        .select(id_col, "n_tokens", "pos", F.xxhash64("s").alias("sh"))
    )
    # one explode feeds both the dup-set aggregate and the coverage join
    sh = sh.localCheckpoint(eager=True)
    dups = (
        sh.groupBy("sh")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("sh")
    )
    covered = (
        sh.join(dups, "sh", "left_semi")
        .select(
            id_col,
            F.explode(
                F.sequence(
                    F.col("pos"),
                    F.least(F.col("pos") + n - 1, F.col("n_tokens") - 1),
                )
            ).alias("idx"),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("covered_tokens"))
    )
    nt = docs.select(F.col(id_col), F.size(tokens).cast("bigint").alias("n_tokens"))
    return (
        nt.join(covered, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("covered_tokens", F.lit(0)).cast("bigint").alias("covered_tokens"),
            F.expr("coalesce(covered_tokens, 0) * 1000000 div n_tokens")
            .cast("bigint")
            .alias("dup_ppm"),
        )
    )


DUP_SPAN_COVERAGE_SQL_TEMPLATE = r"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(text, '\s+') AS tokens FROM documents
),
sh AS (
    SELECT doc_id, LEN(tokens) AS n_tokens, i AS pos,
           array_to_string(tokens[i + 1 : i + {n}], ' ') AS s
    FROM toks CROSS JOIN UNNEST(range(0, GREATEST(LEN(tokens) - {n}, 0) + 1)) AS u(i)
),
shf AS (SELECT * FROM sh WHERE s <> ''),
dups AS (SELECT s FROM shf GROUP BY s HAVING COUNT(DISTINCT doc_id) >= 2),
cov AS (
    SELECT doc_id, COUNT(*) AS covered FROM (
        SELECT DISTINCT doc_id, unnest(range(pos, LEAST(pos + {n}, n_tokens))) AS idx
        FROM shf JOIN dups USING (s)
    ) e GROUP BY doc_id
),
nt AS (
    SELECT doc_id,
           CAST(LEN(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens
    FROM documents
)
SELECT nt.doc_id, nt.n_tokens,
       CAST(COALESCE(cov.covered, 0) AS BIGINT) AS covered_tokens,
       CAST(COALESCE(cov.covered, 0) * 1000000 // nt.n_tokens AS BIGINT) AS dup_ppm
FROM nt LEFT JOIN cov USING (doc_id)
"""


def boilerplate_strip(
    docs: DataFrame,
    block_len: int = 10,
    max_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove cross-document boilerplate blocks and reassemble the text
    (CCNet/Dolma-style paragraph dedup, adapted to fixed ``block_len``-word
    blocks since the corpus has no paragraph breaks).

    A block is boilerplate when it occurs in more than ``max_df`` distinct
    documents (headers, navigation chrome, license banners).  Unlike
    :func:`dup_span_coverage`, which only *measures* duplication, this
    rewrites each document with the offending blocks removed.

    Shape at 100 TB: blocks explode narrowly (no shuffle); the document
    frequency aggregate and the flag join both key on ``xxhash64`` of the
    block — 8-byte shuffle keys, text stays in place (the oracle groups by
    the block string itself; identical modulo 64-bit hash collisions).
    Reassembly is one groupBy(doc_id) collecting (position, block) structs,
    sorted per group — each document's blocks land in one task, so memory is
    bounded by the largest single document, not the corpus.

    Returns (doc_id, n_blocks, n_dropped, clean_text); fully-boilerplate
    documents survive with ``clean_text = ''``.
    """
    toks = F.split(F.col(text_col), " ")
    base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("t"))
    starts = F.expr(f"sequence(0, greatest(size(t) - 1, 0), {block_len})")
    blocks = base.select(
        "doc_id",
        F.posexplode(starts).alias("blk", "start"),
        F.array_join(F.slice(F.col("t"), F.col("start") + 1, block_len), " ").alias("btext"),
    ).select("doc_id", F.col("blk").cast("bigint").alias("blk"), "btext")
    hashed = blocks.withColumn("h", F.xxhash64("btext"))
    flagged_hashes = (
        hashed.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("dfc"))
        .filter(F.col("dfc") > max_df)
        .select("h")
    )
    marked = hashed.join(
        flagged_hashes.withColumn("is_bp", F.lit(True)), "h", "left"
    ).withColumn("is_bp", F.coalesce(F.col("is_bp"), F.lit(False)))
    kept_structs = F.array_sort(
        F.collect_list(F.when(~F.col("is_bp"), F.struct("blk", "btext")))
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            F.sum(F.when(F.col("is_bp"), 1).otherwise(0)).cast("bigint").alias("n_dropped"),
            F.concat_ws(" ", F.transform(kept_structs, lambda x: x["btext"])).alias(
                "clean_text"
            ),
        )
        .select("doc_id", "n_blocks", "n_dropped", "clean_text")
    )


BOILERPLATE_STRIP_SQL_TEMPLATE = """
WITH toks AS (
    SELECT doc_id, STR_SPLIT(text, ' ') AS t FROM documents
),
blocks AS (
    SELECT doc_id,
           CAST(start // {block_len} AS BIGINT) AS blk,
           array_to_string(t[start + 1 : start + {block_len}], ' ') AS btext
    FROM (
        SELECT doc_id, t, unnest(range(0, GREATEST(LEN(t), 1), {block_len})) AS start
        FROM toks
    ) s
),
dfreq AS (
    SELECT btext, COUNT(DISTINCT doc_id) AS dfc FROM blocks GROUP BY btext
),
flagged AS (
    SELECT b.doc_id, b.blk, b.btext, (d.dfc > {max_df}) AS is_bp
    FROM blocks b JOIN dfreq d USING (btext)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       CAST(SUM(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       COALESCE(string_agg(CASE WHEN NOT is_bp THEN btext END, ' ' ORDER BY blk), '')
           AS clean_text
FROM flagged
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Cross-engine-checkable MinHash (md5 minwise order) + incremental near-dup
# ---------------------------------------------------------------------------


def minhash_band_keys_md5(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_len: int = 3,
) -> DataFrame:
    """Long-form banded MinHash keys (doc_id, bidx, bk) with an md5 minwise
    order: ``h_i(s)`` = the i-th 8-hex-char slice of ``md5(i//4 || ':' ||
    s)`` and the per-doc minimum taken LEXICOGRAPHICALLY over those hex
    strings — a valid uniform minwise ordering that both Spark and DuckDB
    implement identically, so (unlike the xxhash64 production path) every
    candidate pair is value-hash oracle-checkable.  Band key = md5 of the
    band's joined sigs.

    Same plan shape as :func:`minhash_signatures` +
    :func:`minhash_banded_candidates`: one shingle explode, ``num_hashes``
    min-aggs in one pass, narrow band projection.  md5-over-strings costs
    ~2-3x xxhash64-over-ints per row — keep the xxhash64 twin for the hot
    path and this one for verified correctness (and as the portable scheme
    when candidates must be reproducible outside Spark).

    The docs relation is repartitioned by id first: the eval corpus is ONE
    parquet row group, so without it the whole shingle-explode + md5 load
    lands on a single task; the count is explicit (defaultParallelism)
    because AQE would coalesce a by-column repartition of a few MB back to
    one partition.  The shuffled relation is (id, text) — acceptable for
    this VERIFICATION twin, the xxhash64 production path keeps text off
    every exchange.
    """
    sigs = _md5_minhash_sigs(docs, text_col, id_col, num_hashes, shingle_len)
    return _band_rows(sigs, id_col, num_hashes, bands, _md5_band_key)


def _md5_minhash_sigs(
    docs: DataFrame, text_col: str, id_col: str, num_hashes: int, shingle_len: int
) -> DataFrame:
    """(id, mh0 … mh{num_hashes-1}): the md5 minwise signatures of
    :func:`minhash_band_keys_md5`, over docs repartitioned by id."""
    _par = docs.sparkSession.sparkContext.defaultParallelism
    sh = _distinct_shingle_rel(
        docs.repartition(_par, F.col(id_col)), text_col, id_col, shingle_len
    )
    # one md5 digest yields FOUR independent 32-bit minwise orders (8-hex-char
    # slices of the 128-bit digest), so num_hashes hash functions cost
    # ceil(num_hashes / 4) md5 calls per shingle instead of num_hashes —
    # md5-over-strings is the hot op in this pipeline
    n_digests = (num_hashes + 3) // 4
    digests = [
        F.md5(F.concat(F.lit(f"{d}:"), F.col("s"))) for d in range(n_digests)
    ]
    return sh.groupBy(id_col).agg(
        *[
            F.min(F.substring(digests[i // 4], (i % 4) * 8 + 1, 8)).alias(f"mh{i}")
            for i in range(num_hashes)
        ]
    )


def _md5_band_key(b: int, r: int):
    """md5 of band b's r comma-joined md5 minwise values."""
    return F.md5(F.concat_ws(",", *[F.col(f"mh{b * r + j}") for j in range(r)]))


def _minhash_md5_band_sql(
    num_hashes: int, bands: int, shingle_len: int, source: str = "documents"
) -> str:
    """Shared DuckDB CTE chain ``toks -> shingles -> sigs -> banded`` for the
    md5 MinHash family (mirrors :func:`minhash_band_keys_md5`)."""
    r = num_hashes // bands
    sig_cols = ",\n           ".join(
        f"MIN(SUBSTR(md5('{i // 4}:' || s), {(i % 4) * 8 + 1}, 8)) AS mh{i}"
        for i in range(num_hashes)
    )
    band_rows = "\n    UNION ALL ".join(
        "SELECT doc_id, {b} AS bidx, md5({expr}) AS bk FROM sigs".format(
            b=b,
            expr=" || ',' || ".join(f"mh{b * r + j}" for j in range(r)),
        )
        for b in range(bands)
    )
    return rf"""toks AS (
    SELECT doc_id, regexp_split_to_array(text, '\s+') AS tokens FROM {source}
),
shingles AS (
    SELECT DISTINCT doc_id, s
    FROM (
        SELECT doc_id,
               unnest(list_transform(
                   range(0, GREATEST(LEN(tokens) - {shingle_len}, 0) + 1),
                   i -> array_to_string(tokens[i + 1 : i + {shingle_len}], ' ')
               )) AS s
        FROM toks
    ) t
    WHERE s <> ''
),
sigs AS (
    SELECT doc_id,
           {sig_cols}
    FROM shingles GROUP BY doc_id
),
banded AS (
    {band_rows}
)"""


def neardup_minhash_checked(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_len: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """The full banded-candidates -> exact-Jaccard-verify near-dup pipeline
    of :func:`neardup_minhash_native`, on the md5 minwise order — every
    stage reproducible in ANSI SQL, so the whole pipeline (not just the
    verify) sits behind the value-hash correctness gate."""
    keys = minhash_band_keys_md5(
        docs, text_col, id_col, num_hashes, bands, shingle_len
    ).localCheckpoint(eager=True)
    return _verify_jaccard(
        _band_pairs(keys, id_col), docs, text_col, id_col, shingle_len,
        jaccard_threshold,
    )


def neardup_minhash_checked_sql(
    num_hashes: int = 8,
    bands: int = 4,
    shingle_len: int = 3,
    jaccard_threshold: float = 0.5,
) -> str:
    base = _minhash_md5_band_sql(num_hashes, bands, shingle_len)
    return rf"""
WITH {base},
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b ON a.bidx = b.bidx AND a.bk = b.bk
    WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
    SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
    FROM cand c
    JOIN shingles a ON a.doc_id = c.id_a
    JOIN shingles b ON b.doc_id = c.id_b AND b.s = a.s
    GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
       ROUND(CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter), 9) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) >= {jaccard_threshold}
"""


def incremental_neardup(
    batch_bands: DataFrame, seen_bands: DataFrame | None, id_col: str = "doc_id"
) -> DataFrame:
    """Continuous-ingestion near-dup: a new document is dropped when ANY of
    its MinHash band keys collides with the persisted band store (the
    standard crawl-dedup shape — no text from prior batches is retained,
    only (bidx, bk) pairs).  Band collisions are the S-curve candidate
    test; without stored text an exact verify is impossible, so collisions
    count as duplicates — false positives bounded by the (b, r) curve,
    which is the production trade every crawl pipeline makes.

    Returns the SURVIVING band rows (doc_id, bidx, bk) — ready to append to
    the store.  Shuffles only 16-byte key pairs; within-batch near-dup is
    the batch pipeline's job (:func:`neardup_minhash_checked`).
    """
    if seen_bands is None:
        return batch_bands
    # the batch band relation feeds BOTH the collision probe and the
    # surviving anti join — materialize once or the shingle+md5 pipeline
    # (the expensive stage) runs twice
    batch_bands = batch_bands.localCheckpoint(eager=True)
    hits = (
        batch_bands.join(
            seen_bands.select("bidx", "bk").distinct(), ["bidx", "bk"], "left_semi"
        )
        .select(id_col)
        .distinct()
    )
    return batch_bands.join(hits, id_col, "left_anti")


def incremental_neardup_store(
    spark,
    batch: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_len: int = 3,
) -> DataFrame:
    """Stateful wrapper: read the band store (if present), drop batch docs
    colliding with it, append the survivors' bands, return the survivors.
    Mirrors :func:`incremental_dedup_store`; the store grows by
    ``bands`` 16-byte rows per kept document."""
    import os

    seen = spark.read.parquet(store_path) if os.path.exists(store_path) else None
    bb = minhash_band_keys_md5(
        batch, text_col, id_col, num_hashes, bands, shingle_len
    )
    kept = incremental_neardup(bb, seen, id_col=id_col)
    kept = kept.localCheckpoint(eager=True)  # pin rows pre-append
    if kept.isEmpty():
        # nothing to append — and skipping also avoids CREATING a
        # schema-less parquet dir a later read could not infer
        return kept
    kept.select(id_col, "bidx", "bk").write.mode("append").parquet(store_path)
    spark.catalog.refreshByPath(store_path)
    return kept


def incremental_neardup_sql(
    split: int, num_hashes: int = 8, bands: int = 4, shingle_len: int = 3
) -> str:
    """DuckDB oracle: docs below ``split`` are the persisted corpus, the
    rest are the incoming batch; output = surviving batch doc ids."""
    base = _minhash_md5_band_sql(num_hashes, bands, shingle_len)
    return rf"""
WITH {base},
prior AS (SELECT DISTINCT bidx, bk FROM banded WHERE doc_id < {split}),
newb AS (SELECT * FROM banded WHERE doc_id >= {split}),
hits AS (
    SELECT DISTINCT n.doc_id
    FROM newb n JOIN prior p ON p.bidx = n.bidx AND p.bk = n.bk
)
SELECT d.doc_id
FROM (SELECT DISTINCT doc_id FROM newb) d
ANTI JOIN hits h ON h.doc_id = d.doc_id
"""


# ---------------------------------------------------------------------------
# Cross-engine-checkable SimHash (md5 token hashes, 60-bit fingerprints)
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 60  # 15 md5 hex chars -> fits int64 in both engines


def simhash_fingerprints_md5(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Charikar SimHash over md5 token hashes: each token votes its 60 hash
    bits (tf-weighted — occurrences all count); fingerprint bit b is 1 when
    the b-votes win (``2 * sum_b > n``, ties to 0).  md5's 15-hex-char
    prefix parses to the same int64 in Spark (``conv(_, 16, 10)``) and
    DuckDB (``CAST('0x' || _ AS BIGINT)``), and everything after is integer
    aggregation — fingerprints are value-hash oracle-exact, unlike the
    xxhash64 production twin (:func:`simhash_near_duplicates`).

    Plan: one token explode, then ONE aggregation carrying 61 map-side-
    combinable sums (60 bit counts + n) — no per-bit explode, so shuffle
    rows = docs, not docs x bits.  Docs repartitioned by id first (explicit
    count or AQE re-coalesces the tiny exchange): the eval corpus is one
    parquet row group, so the explode + md5 load otherwise runs single-task
    (acceptable text shuffle for this verification twin).
    """
    _par = docs.sparkSession.sparkContext.defaultParallelism
    toks = docs.repartition(_par, F.col(id_col)).select(
        F.col(id_col), F.explode(F.split(F.col(text_col), r"\s+")).alias("t")
    )
    h = F.conv(F.substring(F.md5(F.col("t")), 1, 15), 16, 10).cast("bigint")
    per = toks.select(id_col, h.alias("h"))
    aggs = [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"s{b}")
        for b in range(_SIMHASH_BITS)
    ] + [F.count(F.lit(1)).alias("n")]
    sig = per.groupBy(id_col).agg(*aggs)
    fp = None
    for b in range(_SIMHASH_BITS):
        bit = F.when(
            F.col(f"s{b}") * 2 > F.col("n"), F.lit(1 << b).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
        fp = bit if fp is None else fp + bit
    return sig.select(F.col(id_col), fp.alias("fp"))


def simhash_checked(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Banded SimHash near-dup with exact Hamming verification, fully
    oracle-checked: 60-bit fingerprints split into ``bands`` 15-bit band
    keys; a pair is a candidate iff some band matches, and survives iff
    ``bit_count(fp_a XOR fp_b) <= max_hamming``.  Guaranteed recall for
    pairs with < ``bands`` differing bits (pigeonhole); the band join keys
    are 2-byte ints, so candidate generation shuffles almost nothing.
    Output: (id_a, id_b, hamming).
    """
    fps = simhash_fingerprints_md5(docs, text_col, id_col)
    return _simhash_pairs(fps, id_col, _SIMHASH_BITS, bands, max_hamming)


def simhash_checked_sql(bands: int = 4, max_hamming: int = 3) -> str:
    """DuckDB oracle for :func:`simhash_checked` (generated: 60 bit-count
    aggregates, the band UNION, and the Hamming verify)."""
    width = _SIMHASH_BITS // bands
    bit_sums = ",\n           ".join(
        f"SUM((h >> {b}) & 1) AS s{b}" for b in range(_SIMHASH_BITS)
    )
    fp_terms = "\n         + ".join(
        f"CASE WHEN s{b} * 2 > n THEN CAST(1 AS BIGINT) << {b} ELSE 0 END"
        for b in range(_SIMHASH_BITS)
    )
    band_rows = "\n    UNION ALL ".join(
        f"SELECT doc_id, {k} AS bidx, (fp >> {k * width}) & {(1 << width) - 1} AS bk FROM fps"
        for k in range(bands)
    )
    return rf"""
WITH toks AS (
    SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS t FROM documents
),
per AS (
    SELECT doc_id, CAST('0x' || SUBSTR(md5(t), 1, 15) AS BIGINT) AS h FROM toks
),
sig AS (
    SELECT doc_id,
           {bit_sums},
           COUNT(*) AS n
    FROM per GROUP BY doc_id
),
fps AS (
    SELECT doc_id,
           CAST({fp_terms} AS BIGINT) AS fp
    FROM sig
),
banded AS (
    {band_rows}
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b ON a.bidx = b.bidx AND a.bk = b.bk
    WHERE a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       CAST(bit_count(xor(fa.fp, fb.fp)) AS BIGINT) AS hamming
FROM cand c
JOIN fps fa ON fa.doc_id = c.id_a
JOIN fps fb ON fb.doc_id = c.id_b
WHERE bit_count(xor(fa.fp, fb.fp)) <= {max_hamming}
"""


def substring_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    needle_from: int = 20,
    needle_len: int = 30,
) -> DataFrame:
    """EXACT-substring benchmark contamination: flag corpus documents that
    contain a verbatim excerpt of any benchmark document (the strict
    complement of the shingle-overlap test in :func:`decontaminate` — exact
    match catches short verbatim quotes that n-gram-set overlap under-counts,
    e.g. PaLM/Llama eval hygiene used both).

    One fixed excerpt per benchmark doc (chars ``needle_from..+needle_len``)
    forms the needle set; corpus ⨯ broadcast(needles) with a JVM ``instr``
    probe (no LIKE — benchmark text may contain SQL wildcards), aggregated to
    per-doc hit counts.  Corpus text scans once and never shuffles; cost is
    O(|corpus| x |needles|) character scanning, which is the right trade
    while the needle set is benchmark-sized (thousands).  For much larger
    needle sets the production swap-in is one Aho-Corasick automaton per
    executor via ``mapInPandas`` — same output contract.
    """
    needles = benchmark.select(
        F.substring(F.col(text_col), needle_from, needle_len).alias("needle")
    ).filter(F.length("needle") >= needle_len).distinct()
    return (
        corpus.crossJoin(F.broadcast(needles))
        .filter(F.instr(F.col(text_col), F.col("needle")) > 0)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .orderBy(id_col)
    )


SUBSTRING_CONTAMINATION_SQL_TEMPLATE = """
WITH needles AS (
    SELECT DISTINCT substr(text, {needle_from}, {needle_len}) AS needle
    FROM documents WHERE doc_id < {split_id}
      AND LENGTH(substr(text, {needle_from}, {needle_len})) >= {needle_len}
)
SELECT doc_id, COUNT(*) AS n_hits
FROM documents CROSS JOIN needles
WHERE doc_id >= {split_id} AND POSITION(needle IN text) > 0
GROUP BY doc_id
ORDER BY doc_id
"""


def dedup_quality_canonical(
    pairs: DataFrame, docs: DataFrame, scored: DataFrame
) -> DataFrame:
    """Quality-aware canonical selection: connected components over the
    near-dup pair graph, then keep the HIGHEST-QUALITY member of each
    cluster (classifier logit argmax, doc_id tiebreak) — the curation
    policy real pipelines use instead of "longest doc wins"
    (:func:`dedup_canonical`): near-dup groups often mix a clean original
    with boilerplate-wrapped copies, and the classifier is the signal
    that tells them apart.

    Composes :func:`connected_components` (hash-keyed label propagation)
    with the frozen classifier's per-row scores; the argmax is one window
    over the |touched docs| component relation, singleton docs pass
    through as their own canonicals.  Exact integer logits make the
    selection — and therefore the kept set — deterministic cross-engine.
    """
    comp = connected_components(pairs, docs.select("doc_id"))
    labeled = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
        )
    )
    j = labeled.join(scored.select("doc_id", "logit_milli"), "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.desc("logit_milli"), F.asc("doc_id")
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_members",
            F.count(F.lit(1)).over(Window.partitionBy("component")),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("component").cast("bigint").alias("component"),
            F.col("doc_id").alias("kept_doc_id"),
            F.col("n_members").cast("bigint").alias("n_members"),
            F.col("logit_milli").cast("bigint").alias("kept_logit_milli"),
        )
        .orderBy("component")
    )


DEDUP_QUALITY_CANONICAL_SQL_TEMPLATE = """
WITH RECURSIVE jp AS ({jaccard_pairs}),
edges AS (
    SELECT id_a AS s, id_b AS d FROM jp
    UNION
    SELECT id_b AS s, id_a AS d FROM jp
),
reach(node, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.s, reach.r FROM edges e JOIN reach ON reach.node = e.d
),
comp AS (SELECT node AS doc_id, MIN(r) AS component FROM reach GROUP BY node),
scored AS ({quality_sql}),
ranked AS (
    SELECT c.component, c.doc_id, s.logit_milli,
           ROW_NUMBER() OVER (PARTITION BY c.component
                              ORDER BY s.logit_milli DESC, c.doc_id ASC) AS rn,
           COUNT(*) OVER (PARTITION BY c.component) AS nm
    FROM comp c JOIN scored s USING (doc_id)
)
SELECT CAST(component AS BIGINT) AS component, doc_id AS kept_doc_id,
       CAST(nm AS BIGINT) AS n_members,
       CAST(logit_milli AS BIGINT) AS kept_logit_milli
FROM ranked WHERE rn = 1
ORDER BY component
"""


def ngram_novelty(
    corpus: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_len: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty vs a reference corpus — the memorization
    / leakage audit inverted from :func:`decontaminate`: instead of
    dropping overlapping docs, score HOW MUCH of each document is unseen
    (Carlini-style eval sets want novelty ≈ 10⁶; boilerplate and copies
    sit near 0).

    Same shingle-hash plumbing: the reference's distinct shingle set
    broadcasts (8-byte hashes), each corpus doc counts its distinct
    shingles and the seen subset in one left-join aggregate — text never
    shuffles, cost is one scan over each side at any corpus scale.
    """
    def sh(df):
        return _distinct_shingle_rel(df, text_col, id_col, shingle_len).select(
            id_col, F.xxhash64("s").alias("sh")
        )

    ref_sh = sh(reference).select("sh").distinct()
    scored = (
        sh(corpus)
        .join(F.broadcast(ref_sh.withColumn("seen", F.lit(1))), "sh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("seen"), F.lit(0))).alias("n_seen"),
        )
    )
    return scored.select(
        id_col,
        F.col("n_shingles").cast("bigint").alias("n_shingles"),
        F.col("n_seen").cast("bigint").alias("n_seen"),
        F.expr("(n_shingles - n_seen) * 1000000 DIV n_shingles").alias(
            "novelty_ppm"
        ),
    ).orderBy(id_col)


NGRAM_NOVELTY_SQL_TEMPLATE = r"""
WITH corpus AS (SELECT * FROM documents WHERE doc_id >= {split_id}),
ref AS (SELECT * FROM documents WHERE doc_id < {split_id}),
c_sh AS (
    SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(
                   range(0, GREATEST(LEN(regexp_split_to_array(text, '\s+')) - {n}, 0) + 1),
                   i -> array_to_string(regexp_split_to_array(text, '\s+')[i + 1 : i + {n}], ' ')
               )) AS s
        FROM corpus
    ) t WHERE s <> ''
),
r_sh AS (
    SELECT DISTINCT s FROM (
        SELECT unnest(list_transform(
                   range(0, GREATEST(LEN(regexp_split_to_array(text, '\s+')) - {n}, 0) + 1),
                   i -> array_to_string(regexp_split_to_array(text, '\s+')[i + 1 : i + {n}], ' ')
               )) AS s
        FROM ref
    ) t WHERE s <> ''
)
SELECT c.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN r.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
       CAST((COUNT(*) - SUM(CASE WHEN r.s IS NOT NULL THEN 1 ELSE 0 END))
            * 1000000 // COUNT(*) AS BIGINT) AS novelty_ppm
FROM c_sh c LEFT JOIN r_sh r ON c.s = r.s
GROUP BY c.doc_id
ORDER BY c.doc_id
"""


def minhash_estimate_audit(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_len: int = 3,
) -> DataFrame:
    """Sketch-accuracy audit for the MinHash pipeline: per banded candidate
    pair, the SIGNATURE estimate of Jaccard (fraction of agreeing minwise
    components) next to the exact shingle Jaccard and the absolute error —
    the calibration readout that justifies a chosen (num_hashes, bands)
    against the S-curve (run it per corpus before trusting the
    collision-only incremental path, which never exact-verifies).

    All integer ppm: estimate = matches·10⁶ div num_hashes, exact =
    n_inter·10⁶ div union.  Same md5 minwise order as the checked
    pipeline, so every column is value-hash oracle-checkable.
    """
    sigs = _md5_minhash_sigs(
        docs, text_col, id_col, num_hashes, shingle_len
    ).localCheckpoint(eager=True)
    pairs = _band_pairs(
        _band_rows(sigs, id_col, num_hashes, bands, _md5_band_key), id_col
    )
    sa = sigs.select(
        F.col(id_col).alias("id_a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(num_hashes)]
    )
    sb = sigs.select(
        F.col(id_col).alias("id_b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(num_hashes)]
    )
    matches = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("bigint") for i in range(num_hashes)
    )
    # every candidate has a shingle set (its signature came from one), so
    # the overlap keeps every pair; an empty intersection scores 0
    return (
        _shingle_overlap(pairs, docs, text_col, id_col, shingle_len)
        .join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", "_na", "_nb", "_ni", matches.alias("n_match"))
        .select(
            "id_a",
            "id_b",
            F.expr(f"n_match * 1000000 DIV {num_hashes}").alias("est_ppm"),
            F.expr("_ni * 1000000 DIV (_na + _nb - _ni)").alias("exact_ppm"),
        )
        .withColumn(
            "err_ppm",
            F.abs(F.col("est_ppm") - F.col("exact_ppm")).cast("bigint"),
        )
        .orderBy("id_a", "id_b")
    )


def minhash_estimate_audit_sql(
    num_hashes: int = 8, bands: int = 4, shingle_len: int = 3
) -> str:
    base = _minhash_md5_band_sql(num_hashes, bands, shingle_len)
    match_expr = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)" for i in range(num_hashes)
    )
    return rf"""
WITH {base},
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b ON a.bidx = b.bidx AND a.bk = b.bk
    WHERE a.doc_id < b.doc_id
),
est AS (
    SELECT c.id_a, c.id_b, CAST({match_expr} AS BIGINT) AS n_match
    FROM cand c
    JOIN sigs a ON a.doc_id = c.id_a
    JOIN sigs b ON b.doc_id = c.id_b
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
    SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
    FROM cand c
    JOIN shingles a ON a.doc_id = c.id_a
    JOIN shingles b ON b.doc_id = c.id_b AND b.s = a.s
    GROUP BY c.id_a, c.id_b
)
SELECT e.id_a, e.id_b,
       CAST(e.n_match * 1000000 // {num_hashes} AS BIGINT) AS est_ppm,
       CAST(COALESCE(i.n_inter, 0) * 1000000
            // (sa.n_sh + sb.n_sh - COALESCE(i.n_inter, 0)) AS BIGINT)
           AS exact_ppm,
       CAST(ABS(e.n_match * 1000000 // {num_hashes}
                - COALESCE(i.n_inter, 0) * 1000000
                  // (sa.n_sh + sb.n_sh - COALESCE(i.n_inter, 0))) AS BIGINT)
           AS err_ppm
FROM est e
LEFT JOIN inter i ON e.id_a = i.id_a AND e.id_b = i.id_b
JOIN sizes sa ON sa.doc_id = e.id_a
JOIN sizes sb ON sb.doc_id = e.id_b
ORDER BY e.id_a, e.id_b
"""


def dup_cluster_size_histogram(pairs: DataFrame, ids: DataFrame) -> DataFrame:
    """Near-dup cluster-size distribution: connected components over the
    pair graph, then clusters bucketed by member count — the dedup
    dashboard headline ("how much of the corpus sits in 2-clusters vs
    100-clusters") that sizes the canonical-selection savings and flags
    boilerplate explosions (one giant component = a template, not dups).
    Singletons (docs in no pair) report at size 1."""
    comp = connected_components(pairs, ids)
    labeled = ids.join(comp, "doc_id", "left").select(
        F.coalesce(F.col("component"), F.col("doc_id")).alias("component")
    )
    sizes = labeled.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    return (
        sizes.groupBy(F.col("sz").cast("bigint").alias("cluster_size"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
        .orderBy("cluster_size")
    )


DUP_CLUSTER_SIZES_SQL_TEMPLATE = """
WITH RECURSIVE jp AS ({jaccard_pairs}),
edges AS (
    SELECT id_a AS s, id_b AS d FROM jp
    UNION
    SELECT id_b AS s, id_a AS d FROM jp
),
reach(node, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.s, reach.r FROM edges e JOIN reach ON reach.node = e.d
),
comp AS (SELECT node AS doc_id, MIN(r) AS component FROM reach GROUP BY node),
sizes AS (SELECT component, COUNT(*) AS sz FROM comp GROUP BY component)
SELECT CAST(sz AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters
FROM sizes GROUP BY sz ORDER BY cluster_size
"""


def band_bucket_balance(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_len: int = 3,
) -> DataFrame:
    """Band-bucket occupancy audit for the MinHash LSH family: per band,
    bucket count, largest-bucket share (ppm) and the candidate-pair mass
    Σ c·(c−1)/2 — the number the banded self-join's shuffle cost actually
    scales with.  This is the pre-flight that decides whether a
    stop-bucket cap is needed (one boilerplate-heavy bucket can carry
    quadratic pair mass while every histogram looks healthy).

    One aggregation over the band-key relation; output is |bands| rows.
    """
    keys = minhash_band_keys_md5(
        docs, text_col, id_col, num_hashes, bands, shingle_len
    )
    occ = keys.groupBy("bidx", "bk").agg(F.count(F.lit(1)).alias("c"))
    return (
        occ.groupBy(F.col("bidx").cast("bigint").alias("bidx"))
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("c").alias("n_docs"),
            F.max("c").alias("max_bucket"),
            F.sum(F.expr("c * (c - 1) DIV 2")).alias("pair_mass"),
        )
        .select(
            "bidx",
            F.col("n_buckets").cast("bigint").alias("n_buckets"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("max_bucket").cast("bigint").alias("max_bucket"),
            F.expr("max_bucket * 1000000 DIV n_docs").alias("max_share_ppm"),
            F.col("pair_mass").cast("bigint").alias("pair_mass"),
        )
        .orderBy("bidx")
    )


def band_bucket_balance_sql(
    num_hashes: int = 8, bands: int = 4, shingle_len: int = 3
) -> str:
    base = _minhash_md5_band_sql(num_hashes, bands, shingle_len)
    return f"""
WITH {base},
occ AS (
    SELECT bidx, bk, CAST(COUNT(*) AS BIGINT) AS c
    FROM banded GROUP BY bidx, bk
)
SELECT CAST(bidx AS BIGINT) AS bidx,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(c) AS BIGINT) AS n_docs,
       CAST(MAX(c) AS BIGINT) AS max_bucket,
       CAST(MAX(c) * 1000000 // SUM(c) AS BIGINT) AS max_share_ppm,
       CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS pair_mass
FROM occ GROUP BY bidx ORDER BY bidx
"""


def coverage_select(
    docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_len: int = 3,
) -> DataFrame:
    """Greedy maximum-coverage document selection (the classic submodular
    curation objective): pick k documents that together cover the most
    distinct corpus shingles — each step takes the document with the
    largest MARGINAL gain over what's already covered (ties → smallest
    id).  The lazy-greedy/facility-location shape used for "small
    representative subset" selection; 1−1/e of optimal by submodularity.

    Distributed loop bounded like kmeans/BPE: the shingle relation
    computes ONCE (checkpointed); each step is one anti-join + count
    aggregate with a 1-ROW collect (the argmax), and the covered set
    grows by one doc's shingles (re-checkpointed so lineage stays flat).
    Shingles ride as raw strings here for oracle transparency — hash them
    at corpus scale.  Output: (step, doc_id, gain, covered_total).
    """
    sh = _distinct_shingle_rel(docs, text_col, id_col, shingle_len).localCheckpoint(
        eager=True
    )
    spark = docs.sparkSession
    covered = None
    picks: list[tuple[int, int, int, int]] = []
    total = 0
    for step in range(1, k + 1):
        # No picked-ids anti-join: a picked doc's shingles are all in
        # ``covered``, so its rows vanish from the anti-join and it can
        # never win a later argmax — the explicit id filter was a second
        # redundant join per step.  (Shrinking ``remaining`` in place
        # instead was measured SLOWER: it re-checkpoints the big uncovered
        # relation every step, while ``covered`` stays pick-sized.)
        remaining = sh if covered is None else sh.join(covered, "s", "left_anti")
        top = (
            remaining.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("g"))
            .orderBy(F.desc("g"), F.asc(id_col))
            .limit(1)
            .collect()
        )
        if not top:
            break
        doc, gain = top[0][0], top[0][1]
        total += gain
        picks.append((step, doc, gain, total))
        if step < k:  # the final pick needs no covered-set growth job
            new_cov = sh.filter(F.col(id_col) == doc).select("s")
            covered = (
                new_cov if covered is None else covered.union(new_cov).distinct()
            ).localCheckpoint(eager=True)
    return values_relation(
        spark, picks, "step long, doc_id long, gain long, covered_total long"
    )


def coverage_select_sql(k: int = 5, shingle_len: int = 3) -> str:
    """DuckDB oracle: the identical greedy argmax chained one CTE pair per
    step (marginal-gain pick, covered-set growth)."""
    parts = [
        rf"""WITH sh AS (
    SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(
                   range(0, GREATEST(LEN(regexp_split_to_array(text, '\s+')) - {shingle_len}, 0) + 1),
                   i -> array_to_string(regexp_split_to_array(text, '\s+')[i + 1 : i + {shingle_len}], ' ')
               )) AS s
        FROM documents
    ) t WHERE s <> ''
)"""
    ]
    prev_cov = None
    picked: list[str] = []
    for t in range(1, k + 1):
        rem_filters = []
        if prev_cov:
            rem_filters.append(
                f"NOT EXISTS (SELECT 1 FROM {prev_cov} c WHERE c.s = sh.s)"
            )
        if picked:
            in_list = " UNION ALL ".join(
                f"SELECT doc_id FROM p{i}" for i in range(1, t)
            )
            rem_filters.append(f"doc_id NOT IN (SELECT doc_id FROM ({in_list}))")
        where = ("WHERE " + " AND ".join(rem_filters)) if rem_filters else ""
        parts.append(
            f""",
p{t} AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS g
    FROM sh {where}
    GROUP BY doc_id ORDER BY g DESC, doc_id ASC LIMIT 1
),
cov{t} AS (
    SELECT DISTINCT s FROM sh WHERE doc_id IN (SELECT doc_id FROM p{t})
    {"UNION SELECT s FROM " + prev_cov if prev_cov else ""}
)"""
        )
        prev_cov = f"cov{t}"
        picked.append(f"p{t}")
    sel = " UNION ALL ".join(
        f"SELECT {i} AS step, doc_id, g AS gain FROM p{i}" for i in range(1, k + 1)
    )
    parts.append(
        f"""
SELECT CAST(step AS BIGINT) AS step, doc_id, gain,
       CAST(SUM(gain) OVER (ORDER BY step ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS covered_total
FROM ({sel})
ORDER BY step"""
    )
    return "".join(parts)


def weighted_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_len: int = 3,
    threshold_ppm: int = 300_000,
) -> DataFrame:
    """IDF-weighted Jaccard over shingles: similarity where RARE shared
    shingles count more than boilerplate ones —
    J_w = Σ_{common} idf(s) / (W_a + W_b − Σ_{common} idf(s)), the
    weighted refinement that keeps template-heavy domains from flooding
    the near-dup candidate set (the exact-family twin of stop-shingle
    filtering: instead of DROPPING hot shingles, down-weight them).

    idf(s) = ln(N/df) rounded to int64 micro-nats (the LM-family
    determinism recipe), per-doc total weights are one rollup, and pairs
    come from the common-shingle join — never all-pairs.  Every column
    is exact integer, so even the weighted similarity is hash-checkable.
    """
    # shuffle keys are 8-byte xxhash64 of the shingle (the exact-family
    # convention — text never rides an exchange); the oracle joins on the
    # strings themselves, so agreement is modulo 64-bit collisions
    sh = (
        _distinct_shingle_rel(docs, text_col, id_col, shingle_len)
        .select(id_col, F.xxhash64("s").alias("sh"))
        .localCheckpoint(eager=True)
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("nd"))
    idf = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "sh",
            F.expr(
                "CAST(ROUND(LN(CAST(nd AS DOUBLE) / df) * 1000000, 0) AS BIGINT)"
            ).alias("w"),
        )
    )
    weighted = sh.join(idf, "sh").localCheckpoint(eager=True)
    totals = weighted.groupBy(id_col).agg(F.sum("w").alias("tw"))
    common = (
        weighted.select(F.col(id_col).alias("id_a"), "sh", F.col("w").alias("wa"))
        .join(
            weighted.select(F.col(id_col).alias("id_b"), "sh"),
            "sh",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum("wa").alias("cw"))
    )
    return (
        common.join(
            totals.select(F.col(id_col).alias("id_a"), F.col("tw").alias("ta")),
            "id_a",
        )
        .join(
            totals.select(F.col(id_col).alias("id_b"), F.col("tw").alias("tb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.col("cw").cast("bigint").alias("common_weight_micro"),
            # GREATEST(1, ...) guards the all-shingles-ubiquitous edge case
            # (every shared shingle in every doc -> idf=0 -> ta+tb-cw = 0):
            # Spark DIV would yield NULL and silently drop the pair while
            # DuckDB // errors — make the zero-weight case deterministic in
            # both engines instead of engine-dependent.
            F.expr("cw * 1000000 DIV GREATEST(1, ta + tb - cw)").alias(
                "wjaccard_ppm"
            ),
        )
        .filter(F.col("wjaccard_ppm") >= threshold_ppm)
        .orderBy("id_a", "id_b")
    )


WEIGHTED_JACCARD_SQL_TEMPLATE = r"""
WITH sh AS (
    SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(
                   range(0, GREATEST(LEN(regexp_split_to_array(text, '\s+')) - {n}, 0) + 1),
                   i -> array_to_string(regexp_split_to_array(text, '\s+')[i + 1 : i + {n}], ' ')
               )) AS s
        FROM documents
    ) t WHERE s <> ''
),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
idf AS (
    SELECT s, CAST(ROUND(LN(CAST(nd AS DOUBLE) / COUNT(*)) * 1000000, 0) AS BIGINT)
               AS w
    FROM sh CROSS JOIN nd GROUP BY s, nd
),
weighted AS (SELECT sh.doc_id, sh.s, idf.w FROM sh JOIN idf USING (s)),
totals AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS tw FROM weighted GROUP BY doc_id),
common AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(SUM(a.w) AS BIGINT) AS cw
    FROM weighted a JOIN weighted b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT c.id_a, c.id_b, c.cw AS common_weight_micro,
       CAST(c.cw * 1000000 // GREATEST(1, ta.tw + tb.tw - c.cw) AS BIGINT)
           AS wjaccard_ppm
FROM common c
JOIN totals ta ON ta.doc_id = c.id_a
JOIN totals tb ON tb.doc_id = c.id_b
WHERE c.cw * 1000000 // GREATEST(1, ta.tw + tb.tw - c.cw) >= {threshold_ppm}
ORDER BY c.id_a, c.id_b
"""


def simhash_distance_histogram(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    bands: int = 4,
) -> DataFrame:
    """Hamming-distance distribution over SimHash band candidates — the
    radius-calibration readout for ``simhash_checked``'s ``max_hamming``
    knob (where does the candidate mass sit relative to the pigeonhole
    guarantee boundary at ``bands − 1``?).  The sketch-calibration twin of
    ``x_minhash_audit`` for the fingerprint family."""
    pairs = simhash_checked(
        docs, text_col, id_col, bands=bands, max_hamming=_SIMHASH_BITS
    )
    return (
        pairs.groupBy(F.col("hamming").cast("bigint").alias("hamming"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .orderBy("hamming")
    )


def simhash_distance_histogram_sql(bands: int = 4) -> str:
    base = simhash_checked_sql(bands=bands, max_hamming=_SIMHASH_BITS)
    return f"""
WITH pairs AS ({base})
SELECT CAST(hamming AS BIGINT) AS hamming,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY hamming ORDER BY hamming
"""


def jaccard_threshold_curve(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    shingle_len: int = 3,
) -> DataFrame:
    """Near-dup threshold operating curve: for each candidate threshold in
    {0.3 … 0.9}, how many exact-Jaccard pairs survive — the dial a dedup
    rollout turns (each step trades recall of partial overlaps against
    boilerplate false-positives), computed from ONE pass over the exact
    pair relation instead of seven re-runs.  Pair jaccard is the int64
    cross-multiplied ppm the exact family already emits."""
    pairs = ngram_jaccard_pairs(
        docs, text_col, id_col, shingle_len, threshold=0.0
    ).select(
        F.expr("CAST(ROUND(jaccard * 1000000, 0) AS BIGINT)").alias("j_ppm")
    )
    thr = [300_000, 400_000, 500_000, 600_000, 700_000, 800_000, 900_000]
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n_all"),
        *[
            F.coalesce(
                F.sum((F.col("j_ppm") >= t).cast("bigint")), F.lit(0)
            ).alias(f"t{t}")
            for t in thr
        ],
    )
    kv = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(t).cast("bigint").alias("threshold_ppm"),
                    F.col(f"t{t}").cast("bigint").alias("n_pairs"),
                )
                for t in thr
            ]
        )
    )
    return (
        agg.select(F.col("n_all").cast("bigint").alias("n_candidates"), kv.alias("kv"))
        .select(
            F.col("kv.threshold_ppm").alias("threshold_ppm"),
            F.col("kv.n_pairs").alias("n_pairs"),
            "n_candidates",
        )
        .orderBy("threshold_ppm")
    )


def jaccard_threshold_curve_sql(shingle_len: int = 3) -> str:
    # ONE conditional-aggregation pass over the pair relation (the Spark
    # shape), then a 7-row unpivot — the earlier thr×pairs cross join
    # materialized the biggest dedup-family intermediate 7×, and returned
    # ZERO rows on a pair-free corpus where Spark returns 7 zero rows.
    thr = (300000, 400000, 500000, 600000, 700000, 800000, 900000)
    base = NGRAM_JACCARD_SQL_TEMPLATE.format(n=shingle_len, threshold=0.0)
    sums = ",\n           ".join(
        f"CAST(COALESCE(SUM(CASE WHEN j_ppm >= {t} THEN 1 ELSE 0 END), 0) "
        f"AS BIGINT) AS t{t}"
        for t in thr
    )
    unpivot = "\n    UNION ALL ".join(
        f"SELECT {t} AS threshold_ppm, t{t} AS n_pairs, n_all FROM agg"
        for t in thr
    )
    return f"""
WITH pairs AS ({base}),
ppm AS (SELECT CAST(ROUND(jaccard * 1000000, 0) AS BIGINT) AS j_ppm FROM pairs),
agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
           {sums}
    FROM ppm
)
SELECT threshold_ppm, n_pairs, n_all AS n_candidates
FROM ({unpivot})
ORDER BY threshold_ppm
"""


def minhash_scurve_audit(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_len: int = 3,
) -> DataFrame:
    """S-curve recall audit: per Jaccard decile, the MEASURED fraction of
    true pairs that banding surfaced as candidates next to the THEORETICAL
    ``1 − (1 − j^r)^b`` curve — the empirical check that the (bands, rows)
    choice actually delivers its textbook recall on THIS corpus (clustered
    shingle overlap can beat or trail the independence assumption).

    Theory values are computed ONCE in Python at decile midpoints and
    embedded as ppm literals (the nDCG-discount trick — no cross-engine
    pow); measured recall is exact integer counting over the exact-pair
    relation left-joined with the banded candidate set.
    """
    keys = minhash_band_keys_md5(
        docs, text_col, id_col, num_hashes, bands, shingle_len
    ).localCheckpoint(eager=True)
    cands = _band_pairs(keys, id_col).withColumn("cand", F.lit(1))
    r = num_hashes // bands
    theory = {
        d: round((1 - (1 - ((d + 0.5) / 10) ** r) ** bands) * 1_000_000)
        for d in range(10)
    }
    exact = ngram_jaccard_pairs(
        docs, text_col, id_col, shingle_len, threshold=0.0
    ).select(
        "id_a",
        "id_b",
        F.expr("CAST(LEAST(9, CAST(FLOOR(jaccard * 10) AS BIGINT)) AS BIGINT)").alias(
            "bucket"
        ),
    )
    theory_case = "CASE bucket " + " ".join(
        f"WHEN {d} THEN {v}" for d, v in theory.items()
    ) + " END"
    return (
        exact.join(cands, ["id_a", "id_b"], "left")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.coalesce(F.col("cand"), F.lit(0))).alias("n_candidates"),
        )
        .select(
            "bucket",
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.col("n_candidates").cast("bigint").alias("n_candidates"),
            # multiply-first int128: bucket pair counts are corpus-scaled
            # when the near-dup density is (adversarially) high
            F.expr(
                "CAST(CAST(n_candidates AS DECIMAL(38,0)) * 1000000 "
                "DIV n_pairs AS BIGINT)"
            ).alias("recall_ppm"),
            F.expr(f"CAST({theory_case} AS BIGINT)").alias("theory_ppm"),
        )
        .orderBy("bucket")
    )


def minhash_scurve_audit_sql(
    num_hashes: int = 8, bands: int = 4, shingle_len: int = 3
) -> str:
    r = num_hashes // bands
    theory = {
        d: round((1 - (1 - ((d + 0.5) / 10) ** r) ** bands) * 1_000_000)
        for d in range(10)
    }
    theory_case = "CASE bucket " + " ".join(
        f"WHEN {d} THEN {v}" for d, v in theory.items()
    ) + " END"
    base = _minhash_md5_band_sql(num_hashes, bands, shingle_len)
    jac = NGRAM_JACCARD_SQL_TEMPLATE.format(n=shingle_len, threshold=0.0)
    return f"""
WITH {base},
exact AS (
    SELECT id_a, id_b,
           CAST(LEAST(9, CAST(FLOOR(jaccard * 10) AS BIGINT)) AS BIGINT) AS bucket
    FROM ({jac})
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b ON a.bidx = b.bidx AND a.bk = b.bk
    WHERE a.doc_id < b.doc_id
)
SELECT e.bucket,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_candidates,
       CAST(SUM(CAST(CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS HUGEINT))
            * 1000000 // COUNT(*) AS BIGINT) AS recall_ppm,
       CAST({theory_case} AS BIGINT) AS theory_ppm
FROM exact e LEFT JOIN cand c ON e.id_a = c.id_a AND e.id_b = c.id_b
GROUP BY e.bucket
ORDER BY e.bucket
"""


def soft_dedup_weights(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Soft deduplication: instead of dropping duplicates, weight every
    document by 1/|its exact-dup group| so each distinct content unit
    contributes unit mass to training — the downweight-don't-delete
    policy (keeps provenance diversity, removes repetition bias).  One
    md5-fingerprint aggregate broadcast back; weights are exact ppm."""
    fp = docs.select(F.col(id_col), F.md5(F.col("text")).alias("fp"))
    sizes = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("gs"))
    return (
        fp.join(sizes, "fp")
        .select(
            id_col,
            F.col("gs").cast("bigint").alias("group_size"),
            F.expr("1000000 DIV gs").alias("weight_ppm"),
        )
        .orderBy(id_col)
    )


SOFT_DEDUP_SQL = """
WITH fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
sizes AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS gs FROM fp GROUP BY fp)
SELECT doc_id, gs AS group_size,
       CAST(1000000 // gs AS BIGINT) AS weight_ppm
FROM fp JOIN sizes USING (fp)
ORDER BY doc_id
"""


def shingle_df_histogram(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    shingle_len: int = 3,
) -> DataFrame:
    """Document-frequency histogram of shingles in power-of-two buckets —
    the direct evidence behind every stop-shingle threshold: the df=1
    mass is what carries near-dup signal, the high-df tail is what makes
    exact shingle joins quadratic (its pair mass grows as Σ df²).  Each
    bucket reports its shingle count and its pair mass share.

    Bucket = floor(log2(df)) via integer halving (no float log);
    one shingle-keyed aggregate, ≤ ~32 output rows at any corpus size.
    """
    sh = _distinct_shingle_rel(docs, text_col, id_col, shingle_len)
    dfs = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    # floor(log2(df)) for df in [1, 2^20) by unrolled integer comparison
    bucket = F.expr(
        "CAST(CASE WHEN df >= 1024 THEN 10 "
        "WHEN df >= 512 THEN 9 WHEN df >= 256 THEN 8 WHEN df >= 128 THEN 7 "
        "WHEN df >= 64 THEN 6 WHEN df >= 32 THEN 5 WHEN df >= 16 THEN 4 "
        "WHEN df >= 8 THEN 3 WHEN df >= 4 THEN 2 WHEN df >= 2 THEN 1 "
        "ELSE 0 END AS BIGINT)"
    )
    agg = dfs.select(bucket.alias("log2_df_bucket"), "df").groupBy(
        "log2_df_bucket"
    ).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        # decimal(38,0): a stop-shingle's df is corpus-scaled, so the
        # per-row pair count df*(df-1)/2 ~ n**2 passes int64 near 3e9 docs
        # (HUGEINT in the twin); pair_mass stays a BIGINT report column
        F.sum(F.expr("CAST(df AS DECIMAL(38,0)) * (df - 1) DIV 2")).alias("pm"),
    )
    tot = agg.agg(F.sum("pm").alias("tpm"))
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "log2_df_bucket",
            F.col("n_shingles").cast("bigint").alias("n_shingles"),
            F.col("pm").cast("bigint").alias("pair_mass"),
            F.expr(
                "CAST(CAST(pm AS DECIMAL(38,0)) * 1000000 "
                "DIV GREATEST(1, tpm) AS BIGINT)"
            ).alias("pair_mass_ppm"),
        )
        .orderBy("log2_df_bucket")
    )


SHINGLE_DF_HISTOGRAM_SQL_TEMPLATE = r"""
WITH sh AS (
    SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(
                   range(0, GREATEST(LEN(regexp_split_to_array(text, '\s+')) - {n}, 0) + 1),
                   i -> array_to_string(regexp_split_to_array(text, '\s+')[i + 1 : i + {n}], ' ')
               )) AS s
        FROM documents
    ) t WHERE s <> ''
),
dfs AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY s),
agg AS (
    SELECT CAST(CASE WHEN df >= 1024 THEN 10
                WHEN df >= 512 THEN 9 WHEN df >= 256 THEN 8
                WHEN df >= 128 THEN 7 WHEN df >= 64 THEN 6
                WHEN df >= 32 THEN 5 WHEN df >= 16 THEN 4
                WHEN df >= 8 THEN 3 WHEN df >= 4 THEN 2
                WHEN df >= 2 THEN 1 ELSE 0 END AS BIGINT) AS log2_df_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           SUM(CAST(df AS HUGEINT) * (df - 1) // 2) AS pm
    FROM dfs GROUP BY 1
),
tot AS (SELECT SUM(pm) AS tpm FROM agg)
SELECT log2_df_bucket, n_shingles, CAST(pm AS BIGINT) AS pair_mass,
       CAST(pm * 1000000 // GREATEST(1, tpm) AS BIGINT) AS pair_mass_ppm
FROM agg CROSS JOIN tot
ORDER BY log2_df_bucket
"""


def _traj_doc_id():
    """Composite ``user_id * 10^6 + session_id`` trajectory key with the
    bound ENFORCED in-expression (the house raise_error guard, ADVICE
    r12): a session_id ≥ 10^6 would silently collide two distinct
    trajectory groups onto one doc_id, so it raises instead.  A
    deployment past the bound re-keys with a struct or
    ``xxhash64(user_id, session_id)``."""
    return F.when(
        F.col("session_id") < 1_000_000,
        F.col("user_id") * 1_000_000 + F.col("session_id"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("trajectory_neardup: session_id "),
                F.col("session_id").cast("string"),
                F.lit(
                    " >= 1e6 overflows the user_id*1e6+session_id "
                    "doc_id key; re-key with a struct or "
                    "xxhash64(user_id, session_id)"
                ),
            )
        ).cast("bigint")
    )


def trajectory_relation(
    events: DataFrame, gap_minutes: int = 720, min_events: int = 4
) -> DataFrame:
    """One row PER SESSION TRAJECTORY: gap-based sessionization (the
    ``q_sessionize_events`` two-window pattern, windows partitioned by
    user_id) folded to (user_id, session_id, n_events, text) where text
    is the session's ordered event types joined by spaces; sessions
    under ``min_events`` carry no behavioral signal and are dropped.
    Shared by the batch near-dup report (:func:`trajectory_neardup`) and
    the streaming band-store composition (:func:`trajectory_dedup_store`)
    so the two can never drift on sessionization semantics."""
    gap_us = F.expr(
        "timestampdiff(MICROSECOND, lag(ts) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id), ts)"
    )
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            gap_us.isNull() | (gap_us > int(gap_minutes) * 60 * 1_000_000), 1
        )
        .otherwise(0)
        .alias("is_start"),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("is_start").over(order_w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                " ",
            ).alias("text"),
        )
        .filter(F.col("n_events") >= int(min_events))
    )


def trajectory_dedup_store(
    spark,
    events_batch: DataFrame,
    store_path: str,
    gap_minutes: int = 720,
    min_events: int = 4,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_len: int = 3,
) -> DataFrame:
    """CONTINUOUS BEHAVIORAL DEDUP (r14 shortlist, VERDICT r12 #6): one
    ingestion batch of rollout/clickstream EVENTS dedups against the
    persisted MinHash band store, trajectory-wise — the crawl-dedup shape
    applied to agent-rollout data, where each producer commit delivers
    whole sessions and downstream training must not re-ingest behaviors
    it already holds.

    Composition of two proven pieces, nothing new to verify:
    :func:`trajectory_relation` turns the batch's events into
    (doc_id, text) trajectory docs (doc_id = the guarded
    user_id*1e6+session_id composite), then
    :func:`incremental_neardup_store` treats those docs exactly like
    crawl documents — band keys vs the store, collisions dropped,
    survivors' bands appended.  Returns the surviving band rows
    (doc_id, bidx, bk), like its document twin.

    Scale shape: per batch, sessionization shuffles the BATCH only
    (partitioned by user_id); the store exchange carries 16-byte band
    keys, never event text; state growth is ``bands`` rows per kept
    trajectory, independent of event volume."""
    traj = trajectory_relation(events_batch, gap_minutes, min_events)
    docs = traj.select(_traj_doc_id().cast("bigint").alias("doc_id"), "text")
    return incremental_neardup_store(
        spark,
        docs,
        store_path,
        num_hashes=num_hashes,
        bands=bands,
        shingle_len=shingle_len,
    )


def trajectory_neardup(
    events: DataFrame,
    gap_minutes: int = 720,
    min_events: int = 4,
    shingle_len: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate SESSION TRAJECTORIES — behavioral dedup for
    agent-rollout / clickstream training data: two sessions whose ordered
    event-type sequences share most of their n-grams are the same behavior
    replayed, and an RL/behavior-cloning pipeline dedups them exactly like
    a text pipeline dedups documents.

    Composition of the house pieces, in the order a 100 TB run needs:

    1. gap-based sessionization (the ``q_sessionize_events`` two-window
       pattern, windows partitioned by user_id);
    2. trajectory string per session = ordered event types joined by
       spaces (sessions under ``min_events`` carry no behavioral signal
       and are dropped);
    3. EXACT grouping of identical trajectories FIRST — the dominant
       duplicate mass is byte-identical short sessions, and skipping this
       step makes candidate pairs quadratic in each identical family
       (1 000 same-trajectory sessions = half a million pairs);
    4. banded-MinHash candidates + exact n-gram Jaccard verify
       (:func:`neardup_minhash_checked`) across the DISTINCT trajectory
       representatives only.

    Output: one row PER DISTINCT TRAJECTORY that has at least one near-dup
    partner — (doc_id, n_sessions, n_neighbors, dup_session_mass), where
    doc_id is the group's minimum ``user_id * 1000000 + session_id`` key
    (oracle-transparent arithmetic; a deployment with >10^6 sessions per
    user or >9×10^6 users would use a struct key or xxhash64 instead —
    and the bound is ENFORCED, not assumed: a session_id ≥ 10^6 raises
    in the keying expression rather than silently colliding two distinct
    trajectory groups onto one doc_id),
    n_neighbors counts the group's near-dup partners and dup_session_mass
    sums THEIR session counts — the redundancy readout a keep/drop policy
    weights by.  The near-dup PAIR relation stays internal: same-length
    short trajectories form large near-dup families, so the pair set
    grows quadratically in family size while this report stays bounded by
    the distinct-trajectory count (itself bounded by the event-type
    alphabet, not the corpus)."""
    traj = trajectory_relation(events, gap_minutes, min_events)
    groups = (
        traj.groupBy("text")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.min(_traj_doc_id()).cast("bigint").alias("doc_id"),
        )
        .localCheckpoint(eager=True)  # feeds the near-dup pipeline twice
    )
    pairs = neardup_minhash_checked(
        groups.select("doc_id", "text"),
        num_hashes=num_hashes,
        bands=bands,
        shingle_len=shingle_len,
        jaccard_threshold=jaccard_threshold,
    )
    sym = pairs.select(
        F.col("id_a").alias("doc_id"), F.col("id_b").alias("nb")
    ).union(pairs.select(F.col("id_b").alias("doc_id"), F.col("id_a").alias("nb")))
    nb_sizes = groups.select(
        F.col("doc_id").alias("nb"), F.col("n_sessions").alias("nb_sessions")
    )
    return (
        sym.join(nb_sizes, "nb")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_neighbors"),
            F.sum("nb_sessions").cast("bigint").alias("dup_session_mass"),
        )
        .join(groups.select("doc_id", "n_sessions"), "doc_id")
        .select("doc_id", "n_sessions", "n_neighbors", "dup_session_mass")
        .orderBy("doc_id")
    )


def dedup_store_gc(
    spark,
    store_path: str,
    deleted_ids: DataFrame,
    id_col: str = "doc_id",
) -> int:
    """BAND-STORE GARBAGE COLLECTION: remove the persisted band rows of
    documents that have been DELETED upstream, so the dedup store stays
    consistent with retention / right-to-be-forgotten deletes — a doc
    purged from the corpus must stop blocking the future re-ingestion
    of its near-duplicates, and its fingerprint rows are themselves
    derived data a deletion obligation extends to.  Intended feed: the
    txn table's change data feed (``read_txn_changes`` rows with
    ``_change_type = 'delete'``), so GC cost tracks CHANGES, never
    corpus size.

    Note the deliberate asymmetry with exact-dup families: removing doc
    X's rows does NOT remove band keys that X's surviving duplicates
    also emitted — a re-ingested copy of X stays blocked exactly when a
    twin of X still lives in the corpus.  That is the correct
    semantics, and it falls out of keying the store by (doc_id, band):
    GC deletes BY DOC, collisions probe BY KEY.

    The rewrite is crash-safe: survivors land in a sibling temp dir and
    swap atomically (the house two-rename swap with ``recover_swap``
    run first).  Returns the number of band rows removed.  Shuffle
    shape: one broadcast-able anti-join of (id, bidx, bk) rows against
    the deleted-id set — 16-byte keys, never text."""
    import os

    from ..core.dag import recover_swap, swap_into_place

    recover_swap(store_path)
    if not os.path.exists(store_path):
        return 0
    store = spark.read.parquet(store_path)
    ids = deleted_ids.select(F.col(id_col)).distinct()
    kept = store.join(F.broadcast(ids), id_col, "left_anti").localCheckpoint(
        eager=True
    )
    removed = store.count() - kept.count()
    if removed == 0:
        return 0
    tmp = store_path + ".__new__"
    kept.write.mode("overwrite").parquet(tmp)
    swap_into_place(tmp, store_path)
    spark.catalog.refreshByPath(store_path)
    return removed


def stream_trajectory_dedup_sql(
    n_batches: int = 3,
    gap_minutes: int = 720,
    min_events: int = 4,
    shingle_len: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> str:
    """DuckDB oracle for the commit-by-commit trajectory dedup
    (:func:`trajectory_dedup_store` driven by the txn streaming tail):
    the even-user half of the corpus, batched ``(user_id % 6) // 2``
    (whole users per commit, so sessionization commutes with the batch
    split), and the store fold is the sequential chain — batch 0 all
    survives; batch m's docs drop iff ANY band key collides with the
    union of prior survivors' bands (incremental_neardup semantics: no
    within-batch drops, collisions need no exact verify).  Output:
    (batch_no, n_kept) per batch."""
    base = _minhash_md5_band_sql(num_hashes, bands, shingle_len, source="docs")
    chain = []
    for m in range(n_batches):
        if m == 0:
            chain.append("s0 AS (SELECT doc_id FROM docs WHERE b = 0)")
            chain.append(
                "bands0 AS (SELECT DISTINCT bd.bidx, bd.bk FROM banded_b bd "
                "WHERE bd.b = 0)"
            )
        else:
            chain.append(
                f"hits{m} AS (SELECT DISTINCT bd.doc_id FROM banded_b bd "
                f"JOIN bands{m - 1} p ON p.bidx = bd.bidx AND p.bk = bd.bk "
                f"WHERE bd.b = {m})"
            )
            chain.append(
                f"s{m} AS (SELECT d.doc_id FROM docs d "
                f"ANTI JOIN hits{m} h ON h.doc_id = d.doc_id "
                f"WHERE d.b = {m})"
            )
            chain.append(
                f"bands{m} AS (SELECT bidx, bk FROM bands{m - 1} UNION "
                f"SELECT DISTINCT bd.bidx, bd.bk FROM banded_b bd "
                f"JOIN s{m} s ON s.doc_id = bd.doc_id)"
            )
    rows = "\nUNION ALL\n".join(
        f"SELECT CAST({m} AS BIGINT) AS batch_no, "
        f"(SELECT COUNT(*) FROM s{m}) AS n_kept"
        for m in range(n_batches)
    )
    chain_sql = ",\n".join(chain)
    return rf"""
WITH flagged AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('microsecond', lag(ts) OVER w, ts)
                     > CAST({int(gap_minutes)} AS BIGINT) * 60 * 1000000
                THEN 1 ELSE 0 END AS is_start
    FROM events
    WHERE user_id % 2 = 0
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
    SELECT user_id, ts, event_id, event_type,
           CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
    FROM flagged
),
traj AS (
    SELECT user_id, session_id, COUNT(*) AS n_events,
           string_agg(event_type, ' ' ORDER BY ts, event_id) AS text
    FROM sessioned
    GROUP BY user_id, session_id
    HAVING COUNT(*) >= {int(min_events)}
),
docs AS (
    SELECT CAST((user_id % {2 * int(n_batches)}) // 2 AS BIGINT) AS b,
           CAST(user_id * 1000000 + session_id AS BIGINT) AS doc_id,
           text
    FROM traj
),
{base},
banded_b AS (
    SELECT bd.doc_id, bd.bidx, bd.bk, d.b
    FROM banded bd JOIN docs d ON d.doc_id = bd.doc_id
),
{chain_sql}
{rows}
ORDER BY batch_no
"""


def trajectory_neardup_sql(
    gap_minutes: int = 720,
    min_events: int = 4,
    shingle_len: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
) -> str:
    """DuckDB oracle for :func:`trajectory_neardup`: the registered
    sessionization SQL, the exact-group CTE, then the shared md5 MinHash
    band chain (``_minhash_md5_band_sql`` with the trajectory groups as
    the source) and the checked-verify tail."""
    base = _minhash_md5_band_sql(
        num_hashes, bands, shingle_len, source="gdocs"
    )
    return rf"""
WITH flagged AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('microsecond', lag(ts) OVER w, ts)
                     > CAST({int(gap_minutes)} AS BIGINT) * 60 * 1000000
                THEN 1 ELSE 0 END AS is_start
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
    SELECT user_id, ts, event_id, event_type,
           CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
    FROM flagged
),
traj AS (
    SELECT user_id, session_id, COUNT(*) AS n_events,
           string_agg(event_type, ' ' ORDER BY ts, event_id) AS text
    FROM sessioned
    GROUP BY user_id, session_id
    HAVING COUNT(*) >= {int(min_events)}
),
gdocs AS (
    SELECT text,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(MIN(user_id * 1000000 + session_id) AS BIGINT) AS doc_id
    FROM traj GROUP BY text
),
{base},
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b ON a.bidx = b.bidx AND a.bk = b.bk
    WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
    SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
    FROM cand c
    JOIN shingles a ON a.doc_id = c.id_a
    JOIN shingles b ON b.doc_id = c.id_b AND b.s = a.s
    GROUP BY c.id_a, c.id_b
)
,
pairs AS (
    SELECT i.id_a, i.id_b
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter)
          >= {jaccard_threshold}
),
sym AS (
    SELECT id_a AS doc_id, id_b AS nb FROM pairs
    UNION ALL
    SELECT id_b AS doc_id, id_a AS nb FROM pairs
)
SELECT s.doc_id,
       g.n_sessions,
       CAST(COUNT(*) AS BIGINT) AS n_neighbors,
       CAST(SUM(gn.n_sessions) AS BIGINT) AS dup_session_mass
FROM sym s
JOIN gdocs gn ON gn.doc_id = s.nb
JOIN gdocs g ON g.doc_id = s.doc_id
GROUP BY s.doc_id, g.n_sessions
ORDER BY s.doc_id
"""
