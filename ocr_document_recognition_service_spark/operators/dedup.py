"""Deduplication operators over a documents table.

Training-data-pipeline staples, all expressed as declarative DataFrame
plans (shuffles only on the grouping/join keys, map-side combines for
free, broadcast where one side is small):

- exact:        fingerprint groupBy (one shuffle on the hash)
- MinHash+LSH:  md5-based min-hash signatures → banded candidate join.
  md5 is used as the hash family (seed-prefixed) so the SAME signature
  is computable in any engine — the DuckDB oracle reproduces it exactly.
- word Jaccard / char n-gram Jaccard: exact set similarity computed
  ONLY over the MinHash-LSH candidate pairs (generate-then-verify)
- SimHash:      16-bit sign-sum over per-word md5 bits
- embedding:    exact cosine over random-hyperplane LSH bucket pairs

Scale notes (100 TB): exact/minhash/simhash are linear scans + one
shuffle on a short key — they scale trivially.  Every pairwise verify
(Jaccard, embedding cosine) runs over LSH candidate pairs only, so the
quadratic term is bounded by bucket population, never table size —
there is NO low-cardinality blocking key anywhere in this module.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ..charsets import HOMOGLYPH_DST, HOMOGLYPH_SRC
from . import similarity


def norm_text_col(col: str = "text") -> F.Column:
    """Canonical text for fingerprinting: homoglyphs → Latin (R3),
    whitespace collapsed (F4), lowercased, trimmed."""
    c = F.translate(F.col(col), HOMOGLYPH_SRC, HOMOGLYPH_DST)
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def exact_groups(docs: DataFrame) -> DataFrame:
    """Exact dedup: one row per distinct normalized text with the kept
    (minimum) doc_id and the duplicate count."""
    return (
        docs.select("doc_id", F.md5(norm_text_col()).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_docs"),
        )
    )


def _words(col: str = "text") -> F.Column:
    return F.array_distinct(
        F.filter(F.split(F.lower(F.col(col)), r"\s+"), lambda w: w != F.lit(""))
    )


def _verify_jaccard_on_candidates(
    cand: DataFrame, feats: DataFrame, threshold: float
) -> DataFrame:
    """Exact set-Jaccard verification over candidate pairs.

    *cand* = (doc_a, doc_b) pairs (from LSH); *feats* = (doc_id, fs)
    with fs a DISTINCT feature array per doc.  The candidate pair join
    pulls both arrays, |A∩B| is a codegen'd array_intersect (no explode,
    no shuffle on feature values), J = inter/(na+nb−inter) rounded 6dp —
    the exact arithmetic the DuckDB oracles reproduce.  Work is
    O(candidates × doc size): bounded by the LSH bucket population,
    never table size.
    """
    fa = feats.select(
        F.col("doc_id").alias("doc_a"), F.col("fs").alias("fa")
    )
    fb = feats.select(
        F.col("doc_id").alias("doc_b"), F.col("fs").alias("fb")
    )
    return (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("fa", "fb")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.size("fa") + F.size("fb") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def word_jaccard_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact word-set Jaccard over MinHash-LSH candidate pairs.

    Generate-then-verify: candidates come from ``lsh_candidate_pairs``
    (banded 3-word-shingle MinHash), exact word-set Jaccard confirms.
    No all-pairs join at any scale.
    """
    cand = lsh_candidate_pairs(docs, shingle="w3")
    feats = docs.select("doc_id", _words().alias("fs"))
    return _verify_jaccard_on_candidates(cand, feats, threshold)


N_MINHASH = 8
LSH_BAND_ROWS = 2  # 8 hashes → 4 bands of 2


def _trigrams_of(toks: F.Column) -> F.Column:
    """Distinct 3-word shingles from a MATERIALIZED token-array column.

    The token array must be a real column, not an inline expression:
    Catalyst does not de-duplicate subexpressions inside lambda bodies,
    so an inline split() would be re-evaluated on every element_at —
    O(n²) regex work per document (profiled: 10s → 0.5s on 5k docs)."""
    tri = F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 3),
            lambda k: F.concat_ws(
                " ",
                F.element_at(toks, k + 1),
                F.element_at(toks, k + 2),
                F.element_at(toks, k + 3),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(tri)


def _char_trigrams(tcol: F.Column) -> F.Column:
    """Distinct char-3-grams of a MATERIALIZED normalized-text column
    (staged first — the lambda-CSE pitfall)."""
    return F.array_distinct(
        F.when(
            F.length(tcol) >= 3,
            F.transform(
                F.sequence(F.lit(1), F.length(tcol) - 2),
                lambda k: tcol.substr(k, F.lit(3)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )


def _shingle_rows(docs: DataFrame, shingle: str) -> DataFrame:
    """(doc_id, w) shingle rows; token array staged as a column first.

    Modes: 'w3' = 3-word shingles, 'c3' = char-3-grams of the
    normalized text (covers docs with <3 words — the w3 recall gap for
    very short texts), else distinct words.
    """
    if shingle == "w3":
        toks = F.filter(  # ordered, NOT distinct — shingles need sequence
            F.split(F.lower(F.col("text")), r"\s+"), lambda w: w != F.lit("")
        )
        staged = docs.select("doc_id", toks.alias("_tk"))
        return staged.select(
            "doc_id", F.explode(_trigrams_of(F.col("_tk"))).alias("w")
        )
    if shingle == "c3":
        staged = docs.select("doc_id", norm_text_col().alias("_t"))
        return staged.select(
            "doc_id", F.explode(_char_trigrams(F.col("_t"))).alias("w")
        )
    return docs.select("doc_id", F.explode(_words()).alias("w"))


def minhash_signatures(
    docs: DataFrame, n_hashes: int = N_MINHASH, shingle: str = "word"
) -> DataFrame:
    """(doc_id, seed, sig): sig = min over shingles of md5(seed:shingle).

    Engine-agnostic MinHash: the hash family is md5 with a seed prefix,
    min taken over the hex string ordering — byte-for-byte reproducible
    in DuckDB/Trino/anything with md5().  shingle = 'word' | 'w3'
    (3-word shingles).
    """
    seeds = F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1))).alias("seed")
    words = _shingle_rows(docs, shingle)
    return (
        words.select("doc_id", "w", seeds)
        .groupBy("doc_id", "seed")
        .agg(F.min(F.md5(F.concat(F.col("seed").cast("string"), F.lit(":"), F.col("w")))).alias("sig"))
    )


def band_signatures(
    docs: DataFrame,
    n_hashes: int = N_MINHASH,
    band_rows: int = LSH_BAND_ROWS,
    shingle: str = "w3",
) -> DataFrame:
    """(doc_id, band, band_sig): MinHash band signatures — the shared
    front half of ``lsh_candidate_pairs`` and the accumulating
    signature store of ``streaming.neardup``.  All n min-hashes in ONE
    wide hash-agg over the shingle rows (map-side combine, codegen),
    band signature = ordered concat of the band's min-hashes."""
    sh = _shingle_rows(docs, shingle)
    wide = sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{s}:"), F.col("w")))).alias(f"s{s}")
            for s in range(n_hashes)
        ]
    )
    n_bands = n_hashes // band_rows
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "|",
                *[F.col(f"s{b * band_rows + r}") for r in range(band_rows)],
            ).alias("band_sig"),
        )
        for b in range(n_bands)
    ]
    return wide.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select(
        "doc_id",
        F.col("bb.band").alias("band"),
        F.col("bb.band_sig").alias("band_sig"),
    )


LSH_BUCKET_CAP = 64


def lsh_candidate_pairs(
    docs: DataFrame,
    n_hashes: int = N_MINHASH,
    band_rows: int = LSH_BAND_ROWS,
    shingle: str = "w3",
    bucket_cap: int | None = LSH_BUCKET_CAP,
) -> DataFrame:
    """Banded-LSH candidate pairs: docs sharing ANY band signature.

    All n min-hashes are computed in ONE aggregation pass over the
    shingle rows (wide agg columns, map-side combine) instead of
    exploding shingles × seeds — same signatures, 1/n of the shuffle
    rows.  band signature = ordered concat of the band's min-hashes;
    the pair join happens per bucket (bounded fan-out).

    *bucket_cap* bounds the worst-case bucket population (real corpora
    have millions of near-identical boilerplate pages sharing a band
    signature, and an uncapped ``bands ⋈ bands`` goes quadratic inside
    one mega-bucket).  Same shape as ``similarity.lsh_probe_candidates``:
    every doc still probes, but only the *bucket_cap* smallest doc_ids
    per (band, band_sig) serve as the index side — a bucket of size M
    emits ≤ M × bucket_cap pairs instead of M².  The bucket MINIMUM is
    always in the index, so every member stays connected to the bucket
    representative and duplicate CLUSTERS survive intact; only
    pair-level recall among non-representatives is truncated (the
    documented cost of boundedness — raise the cap to buy it back).

    The wide hash-agg is deliberate: a per-row array-expression form
    (array_min over transform of the staged shingle array, zero
    shuffle) was MEASURED 13× slower at sf0.1 — higher-order functions
    evaluate interpreted and allocate an md5-string array per seed per
    row, while this agg is whole-stage-codegen'd with map-side combine
    and the shuffle it pays is tiny (n_docs × 8 short hex strings).
    SimHash is the opposite trade (int arithmetic in ``aggregate`` won
    — see simhash_bits).

    Pair generation (r8): the capped form runs as ONE window pass over
    the band rows (``similarity.capped_bucket_pairs``) instead of the
    probe ⋈ capped-index self-join — the join's two consumers executed
    the whole shingle→MinHash pipeline twice (no runtime exchange
    reuse) and then paid a SortMergeJoin; the window form computes
    bands once and emits the identical pair set (measured 3.51 s →
    2.25 s at sf1.0, mismatches 0).  Band signatures have ≈ corpus
    cardinality, so the window partitioning spreads well — see the
    helper's docstring for when the join form is still the right
    shape.  ``bucket_cap=None`` keeps the classic uncapped join.
    """
    bands = band_signatures(docs, n_hashes, band_rows, shingle)
    if bucket_cap is not None:
        return similarity.capped_bucket_pairs(
            bands, ["band", "band_sig"], "doc_id", bucket_cap
        ).distinct()
    # uncapped: classic a < b self-join (no index side to window over)
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") > F.col("b.doc_id")),
        )
        .select(
            F.col("b.doc_id").alias("doc_a"),
            F.col("a.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def dup_components(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_iters: int = 32,
) -> DataFrame:
    """Connected components over near-dup pairs → duplicate clusters.

    (doc_id, component_id) where component_id = the MINIMUM doc id
    reachable through the pair graph — the transitive closure of
    pairwise near-duplication, so an a~b, b~c chain lands in ONE
    cluster even when a~c was never a candidate pair.

    Plan: iterative min-label propagation WITH pointer jumping (each
    round is one self-join on the symmetric edge list + one min-agg +
    one label-of-label join; the label table is (n_docs, 2) narrow):

        label(v) ← min(label(v), min over neighbors' labels,
                       label(label(v)))

    The third term is path compression — a chain's distance to its
    minimum roughly HALVES per round, so rounds scale with
    log2(diameter), not diameter (a 10⁹-node path converges in ~30
    rounds where one-hop propagation would need 10⁹).  Iterated to
    CONVERGENCE (the per-round change count is a cheap count on the
    narrow diff — an iterative algorithm's loop condition, not a
    hot-path collect); LSH dup clusters are near-cliques, so 2-3
    rounds in practice; *max_iters* bounds pathology and raises rather
    than returning an unconverged answer.
    """
    # checkpoint the edge list ONCE: it is re-read every round (the
    # initial label build + one join per iteration), and its upstream
    # is typically the whole LSH candidate pipeline — without this the
    # shared-subtree re-evaluation rule recomputes that pipeline
    # rounds+1 times
    edges = (
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .unionByName(
            pairs.select(F.col(b).alias("src"), F.col(a).alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("n"))
        .distinct()
        .withColumn("lbl", F.col("n"))
    )
    for _ in range(max_iters):
        neigh_min = (
            edges.join(labels, edges.dst == labels.n)
            .groupBy("src")
            .agg(F.min("lbl").alias("_nl"))
        )
        # pointer jump: label(label(v)) — every label value is itself a
        # node id, so this is one more equi-join on the narrow table
        lbl_of = labels.select(
            F.col("n").alias("_ln"), F.col("lbl").alias("_ll")
        )
        new_lbl = F.least(
            F.col("lbl"),
            F.coalesce(F.col("_nl"), F.col("lbl")),
            F.coalesce(F.col("_ll"), F.col("lbl")),
        )
        # localCheckpoint truncates the lineage — without it the plan
        # doubles per round and an iterative algorithm re-executes its
        # whole history every iteration
        updated = (
            labels.join(neigh_min, labels.n == neigh_min.src, "left")
            .join(lbl_of, labels.lbl == F.col("_ln"), "left")
            .select(
                "n",
                new_lbl.alias("lbl"),
                (new_lbl < F.col("lbl")).alias("_chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = updated.filter(F.col("_chg")).count()
        labels = updated.select("n", "lbl")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"dup_components did not converge in {max_iters} iterations"
        )
    return labels.select(
        F.col("n").alias("doc_id"), F.col("lbl").alias("component_id")
    )


def simhash_bits(
    docs: DataFrame, n_bits: int = 16, out: str = "simhash16"
) -> DataFrame:
    """n-bit SimHash per document over word md5s, ZERO-shuffle.

    bit k of word-hash = bit (k mod 4) of hex digit (k div 4) of
    md5(word) — extracted arithmetically, so any engine computes the
    identical signature (n_bits ≤ 63: the packed signature is one
    signed long, so the 2^k bit literal must fit; for wider
    signatures use ``band_signatures``-style string bands).  The word
    md5
    array is staged as a real column (lambda-CSE pitfall) and every
    sign-sum is a per-row ``aggregate`` over it — a pure projection:
    the signature stage exchanges nothing (the grouped-sum form paid a
    corpus × words shuffle).  Values are identical to the grouped form,
    which is what the SQL oracle computes.
    """
    if n_bits > 63:
        raise ValueError(
            f"simhash_bits: n_bits={n_bits} exceeds 63 — the packed "
            "signature is one signed long; use band_signatures-style "
            "string bands for wider signatures"
        )
    staged = docs.select("doc_id", _words().alias("_w")).filter(
        F.size("_w") > 0
    )
    # r8: stage the PACKED hex digits per word — one conv per word per
    # 4-bit digit group instead of one conv per word per BIT (the old
    # per-k ``conv(substr(h, k//4+1, 1))`` re-parsed a hex digit 4×);
    # the sign-sums then read bits with shift/mask int ops only.
    # Values are identical: bit k of md5(w) = bit (k mod 4) of hex
    # digit (k div 4) either way (verified pairwise at sf1.0).  The
    # packed value must stay under 2^60 so the signed-long conv cast
    # can never overflow — n_bits in (60, 63] packs into two values.
    n_digits = (n_bits + 3) // 4
    packs = [(0, min(n_digits, 15))]
    if n_digits > 15:
        packs.append((15, n_digits - 15))
    def _packed(off: int, cnt: int):
        return lambda w: F.conv(
            F.substring(F.md5(w), off + 1, cnt), 16, 10
        ).cast("long")

    hs = staged.select(
        "doc_id",
        *[
            F.transform("_w", _packed(off, cnt)).alias(f"_v{p}")
            for p, (off, cnt) in enumerate(packs)
        ],
    )

    def sign_sum(k: int) -> F.Column:
        p = 1 if k // 4 >= 15 else 0
        off, cnt = packs[p]
        # digit (k//4) sits (cnt-1-(k//4-off)) nibbles from the low end
        shift = (cnt - 1 - (k // 4 - off)) * 4 + k % 4

        def pm(v: F.Column) -> F.Column:
            bit = F.shiftright(v, shift).bitwiseAND(F.lit(1))
            return F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1))

        return F.aggregate(
            F.col(f"_v{p}"), F.lit(0), lambda acc, v: acc + pm(v)
        ).alias(f"s{k}")

    sums = hs.select("doc_id", *[sign_sum(k) for k in range(n_bits)])
    total = sum(
        [
            F.when(F.col(f"s{k}") > 0, F.lit(2**k).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            for k in range(n_bits)
        ],
        F.lit(0).cast("long"),
    )
    return sums.select("doc_id", total.cast("long").alias(out))


def simhash16(docs: DataFrame) -> DataFrame:
    """16-bit SimHash (the reference-parity width) — see simhash_bits."""
    return simhash_bits(docs, 16, out="simhash16")


def simhash_width_for_corpus(
    n_docs: int,
    n_bands: int = 4,
    target_bucket: int = 64,
    max_bits: int = 60,
) -> int:
    """Scale-aware SimHash signature width — the ``planes_for_corpus``
    twin for banded Hamming-LSH.  With uniform band buckets, a band
    needs ⌈log2(n_docs / target_bucket)⌉ bits to keep its expected
    population ≈ target_bucket; narrower bands collapse the corpus
    into a few mega-buckets where ``bucket_cap`` truncates pair recall
    (MEASURED at 100k docs, cap 64: 32-bit/4-band = 8-bit bands = 256
    buckets → pair recall 0.15; the scaled width → 1.0 — see
    BENCH/BASELINE.md "Measured recall at scale").  *max_bits* stays
    ≤ 60 because ``simhash_bits`` packs the signature into ONE signed
    long (a 2^63 bit literal overflows); 60 bits = 4 bands × 15 bits
    keeps ~64-doc buckets up to ~2M docs per partition-local corpus —
    past that, raise ``n_bands`` or switch the band representation to
    md5-substring strings (the dd3 ``band_signatures`` shape, which
    has no width ceiling)."""
    import math

    if n_bands > max_bits:
        raise ValueError(
            f"n_bands={n_bands} needs more than max_bits={max_bits} bits "
            "(one per band minimum) — use string bands instead"
        )
    if n_docs <= target_bucket:
        band_bits = 1
    else:
        band_bits = math.ceil(math.log2(n_docs / target_bucket))
    # the cap must stay a multiple of n_bands — simhash_near_pairs
    # splits the signature into equal bands and asserts divisibility
    # (review finding: n_bands=8 hit the raw 60 cap and tripped it)
    capped = max_bits - max_bits % n_bands
    return min(capped, n_bands * band_bits)


def simhash_near_pairs(
    docs: DataFrame,
    n_bits: int = 32,
    n_bands: int = 4,
    max_hamming: int = 3,
    bucket_cap: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs via banded Hamming-LSH + exact verify.

    Default is UNCAPPED — the documented pigeonhole exact-recall
    contract holds out of the box (equals brute force).  At scale,
    pass ``bucket_cap`` (the registry uses 64) to bound mega-bucket
    fan-out, accepting the recall caveat below.

    Signature split into *n_bands* equal bit-bands; candidates = pairs
    sharing ANY band value (one keyed join per the banded-bucket shape —
    never all-pairs); verify = exact popcount(xor) ≤ max_hamming.  By
    pigeonhole the banding has EXACT recall whenever
    max_hamming < n_bands (≤3 differing bits cannot touch all 4 bands)
    — so the UNCAPPED form equals brute force.  Widen n_bits / n_bands
    at scale for finer buckets (md5 supplies up to 128 bits).

    *bucket_cap* bounds the worst-case band-bucket population: with
    4 bands × 8-bit values there are only 256 buckets per band, and
    near-identical boilerplate collapses into mega-buckets whose
    ``a ⋈ b`` goes quadratic.  The dd3/sim3 index-side cap applies:
    every doc probes, only the *bucket_cap* smallest doc_ids per
    (band, bv) serve as the index, so a bucket of M emits ≤ M × cap
    pairs and the bucket minimum stays connected to every member.
    CAVEAT (documented trade): inside an over-full bucket, the
    pigeonhole exact-recall guarantee narrows to pairs touching the
    capped index set — two non-indexed members of the same mega-bucket
    are only found if they co-occur under another band.  Raise the cap
    (or n_bits/n_bands, shrinking buckets) to buy recall back.
    """
    assert n_bits % n_bands == 0 and max_hamming < n_bands
    width = n_bits // n_bands
    sig = simhash_bits(docs, n_bits, out="sh")
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("sh"), b * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("bv"),
        )
        for b in range(n_bands)
    ]
    bands = sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bv").alias("bv"))
    idx = similarity.capped_index(bands, ["band", "bv"], "doc_id", bucket_cap)
    # probe > index: the capped index holds the SMALLEST doc_ids per
    # bucket (downward-closed), so pair (x<y) is a candidate iff x is
    # indexed in a shared bucket — this join emits exactly those, once
    # per band (distinct collapses cross-band repeats, half the rows
    # of the != form)
    cand = (
        bands.alias("a")
        .join(
            idx.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") > F.col("b.doc_id")),
        )
        .select(
            F.col("b.doc_id").alias("doc_a"),
            F.col("a.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "hamming",
            F.bit_count(F.col("sha").bitwiseXOR(F.col("shb"))).cast("long"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def char_ngram_jaccard_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.9
) -> DataFrame:
    """Character n-gram Jaccard over MinHash-LSH candidate pairs.

    Generate-then-verify like ``word_jaccard_pairs``, but candidates
    come from CHAR-3-gram MinHash ('c3' shingle mode) — the same
    feature family the verify step measures, so documents with fewer
    than 3 words (which produce no word shingles and were unreachable
    through the w3 candidate path) still become candidates.  Verify =
    exact n-gram Jaccard over the staged normalized text (lambda-CSE
    pitfall)."""
    cand = lsh_candidate_pairs(docs, shingle="c3")
    staged = docs.select("doc_id", norm_text_col().alias("_t"))
    grams = F.array_distinct(
        F.when(
            F.length("_t") >= n,
            F.transform(
                F.sequence(F.lit(1), F.length("_t") - (n - 1)),
                lambda k: F.col("_t").substr(k, F.lit(n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )
    feats = staged.select("doc_id", grams.alias("fs"))
    return _verify_jaccard_on_candidates(cand, feats, threshold)


def embedding_dup_pairs(
    emb: DataFrame,
    planes: list[list[float]] | None = None,
    n_planes: int | None = None,
    threshold: float = 0.99,
    bucket_cap: int | None = LSH_BUCKET_CAP,
    n_vectors: int | None = None,
    n_tables: int = 1,
) -> DataFrame:
    """Embedding cosine near-dup pairs over random-hyperplane LSH
    bucket candidates (generate-then-verify; no label/source blocking).

    Scale-safe bucketing is the DEFAULT: when neither *planes* nor
    *n_planes* is given, the hyperplane count is auto-derived as
    ``planes_for_corpus(n_vectors)`` from the REQUIRED explicit
    *n_vectors* (a catalog row count; free).  Plan construction never
    runs a hidden Spark job (r6 verdict: the old fallback
    ``emb.count()`` silently executed the whole upstream subtree —
    twice, when *emb* carried a UDF stage); a caller that truly
    doesn't know the corpus size fails loud here and can pass a cheap
    estimate — bucket sizing only needs the magnitude (n_planes moves
    one step per 2× error).  Expected bucket population then stays
    ≈64 as N grows instead of N/2^6.  Callers that need a
    REPRODUCIBLE plan across corpus sizes (the dd5 registry query,
    whose SQL oracle inlines the plane literals) pass *n_planes*
    explicitly.

    Candidates = same-bucket pairs from ``similarity.lsh_buckets`` — at
    100 TB the bucket id is the partition key.  With *n_planes* fixed
    the bucket COUNT is fixed (2^n_planes), so bucket population grows
    ~N/2^n_planes and an uncapped ``b ⋈ b`` is O(N²/2^n_planes) —
    quadratic at scale even with uniform hyperplanes.  *bucket_cap*
    bounds it with the dd3/sim3 index-side pattern: every vector still
    probes, only the *bucket_cap* smallest vec_ids per bucket serve as
    the index side, so a bucket of M emits ≤ M × bucket_cap pairs.  The
    bucket MINIMUM is always indexed, so every member stays paired with
    the bucket representative and duplicate clusters survive transitive
    closure; only pair-level recall among non-representatives is
    truncated.  At scale also raise *n_planes* ≈ log2(N/target_bucket)
    (``similarity.planes_for_corpus``) so buckets stay small in the
    first place.

    *n_tables* > 1 turns on multi-table OR-probing (r7 — the sim3
    recall amplifier, measured here because bench_recall put dd5's
    single-table recall at 0.84): each table hashes with an
    independent seeded plane set (seeds 7, 8, …), a pair is a
    candidate if it collides in ANY table, and the index cap applies
    PER (table, bucket) — so worst-case fan-out is n_tables ×
    bucket_cap per probe, and a near-dup pair split by one table's
    plane is recovered by another (P(miss) decays geometrically).
    Pairs arising in several tables are DISTINCT-ed before the exact
    verify, so nothing is double-scored.  Requires *n_planes* (or
    *n_vectors*) rather than an explicit single *planes* list.

    Exact cosine on candidates only, ARRAY-NATIVE (no posexplode, no
    norms shuffle); per-element products in double + 4dp rounding keep
    parity with the flat SQL oracle.  Norms are staged once per vector
    on the attach sides (r8 — see ``similarity._score_pairs``), not
    recomputed per candidate pair.
    """
    if planes is None:
        if n_planes is None:
            if n_vectors is None:
                raise ValueError(
                    "embedding_dup_pairs: pass n_vectors (corpus size "
                    "or a cheap estimate — catalog row count), or an "
                    "explicit n_planes/planes; plan construction will "
                    "not run a hidden full-corpus count() job"
                )
            n_planes = similarity.planes_for_corpus(n_vectors)
    elif n_tables > 1:
        raise ValueError(
            "embedding_dup_pairs: n_tables > 1 derives one seeded "
            "plane set per table — pass n_planes (per-table count), "
            "not an explicit planes list"
        )
    # ONE candidate-join + verify path for both layouts (review r7:
    # the branches had grown near-verbatim copies — the exact block
    # _score_pairs was factored to prevent).  The index is
    # downward-closed by vec_id within its bucket keys (the cap keeps
    # the SMALLEST ids), so probe > index emits each capped pair
    # exactly once per table — no least/greatest; multi-table adds the
    # tbl key and a DISTINCT (the same pair can collide in several
    # tables).
    if n_tables > 1:
        b = similarity.lsh_tables(emb, n_planes, n_tables)
        keys = ["tbl", "bucket"]
    else:
        if planes is None:
            planes = similarity.hyperplanes(n_planes)
        b = similarity.lsh_buckets(emb, planes)
        keys = ["bucket"]
    idx = similarity.capped_index(b, keys, "vec_id", bucket_cap)
    on = F.col("a.vec_id") > F.col("b.vec_id")
    for key in keys:
        on = on & (F.col(f"a.{key}") == F.col(f"b.{key}"))
    cand = (
        b.alias("a")
        .join(idx.alias("b"), on)
        .select(
            F.col("b.vec_id").alias("vec_a"),
            F.col("a.vec_id").alias("vec_b"),
        )
    )
    if n_tables > 1:
        cand = cand.distinct()
    return (
        similarity._score_pairs(cand, emb, a_col="vec_a", b_col="vec_b")
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def semantic_dedup(
    emb: DataFrame,
    n_cells: int = 8,
    iters: int = 2,
    threshold: float = 0.99,
    cell_cap: int | None = LSH_BUCKET_CAP,
    n_probe: int = 1,
    *,
    sample_cap: int | None = None,
    two_level: bool = False,
    coarse_probe: int = 2,
    coarse_iters: int = 1,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication — k-means the embedding space, then within each
    cluster drop every vector ≥ *threshold* cosine-similar to a
    smaller-id cluster-mate.  Catches near-duplicate SEMANTICS
    (paraphrases, templated rewrites, boilerplate variants) that
    exact/MinHash dedup cannot see, at O(N · cell population) instead
    of O(N²): comparisons never cross cluster walls, so the CELL id is
    the partition key at 100 TB.

    Spark shape: Lloyd-trained cells (``similarity.kmeans_cells`` —
    broadcast assign + one wide agg per round, 6dp-rounded trajectory
    so the oracle reproduces it), then dd5's probe>index capped
    candidate join keyed on the cell, array-native cosine in codegen.

    Keep rule (deterministic, non-recursive): a vector is dropped iff
    some INDEXED smaller-id cluster-mate scores ≥ threshold — kept or
    itself dropped.  This is the first-occurrence chain the paper's
    "keep one random member per duplicate group" collapses to under a
    min-id ordering, and it needs no recursive fixpoint, so the DuckDB
    twin mirrors it exactly.  The cap keeps the SMALLEST ids per cell,
    so the cluster minimum is always kept — every cluster retains a
    representative — and only pair-level recall among
    non-representatives is truncated (the dd3/dd5/sim3 cap contract).

    *n_probe* > 1 (r6 verdict: dd10 verdict recall 0.933 → the misses
    are cluster mates split across a cell wall) probes each vector's P
    nearest cells on the PROBE side only — the index side stays the
    primary assignment, and since every keeper has exactly one primary
    cell a (vec, keeper) pair still arises at most once, so the keep
    rule and the DuckDB twin are unchanged in form.  Recall rises to
    the multi-probe contract: a mate is found if the keeper's primary
    cell is among the vector's P nearest.

    *sample_cap* / *two_level* / *coarse_probe* are the r6-verdict
    at-scale quantizer knobs (sampled Lloyd training, O(√k)-per-row
    two-level assignment — see ``similarity._kmeans_centroids`` and
    ``similarity._assign_two_level``); defaults keep the legacy exact
    contract.  At-scale cap sizing: *cell_cap* = 4× the mean cell
    (measured — 2× headroom truncated 2.5×-mean skewed Lloyd cells
    and cost dd10 recall; see ``similarity._cell_probe_topk``).

    Returns ``(vec_id, cell, dup_of, cosine, is_dup)``: *dup_of* the
    best-scoring keeper (rounded-cosine tie → smallest id) for audit,
    NULL for kept rows; *cell* is the primary assignment.

    ``cells`` feeds two consumers (probe side + capped index), so its
    subtree runs twice — affordable ONLY because the trained centroids
    arrive materialized (``similarity._materialize_cents`` inside the
    Lloyd loop): the duplicated subtree is a single broadcast-assign
    aggregation, never the whole training chain.
    """
    assign = similarity._kmeans_assigner(
        emb,
        n_cells,
        iters,
        sample_cap=sample_cap,
        two_level=two_level,
        coarse_probe=coarse_probe,
        coarse_iters=coarse_iters,
    )
    cells = assign(1)
    probes = assign(n_probe) if n_probe > 1 else cells
    idx = similarity.capped_index(cells, ["cell"], "vec_id", cell_cap)
    cand = (
        probes.alias("a")
        .join(
            idx.alias("b"),
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") > F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("keeper"),
        )
    )
    scored = similarity._score_pairs(
        cand, emb, a_col="vec_id", b_col="keeper"
    ).filter(F.col("cosine") >= threshold)
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("keeper").asc()
    )
    best = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", F.col("keeper").alias("dup_of"), "cosine")
    )
    return cells.join(best, "vec_id", "left").select(
        "vec_id",
        "cell",
        "dup_of",
        "cosine",
        F.col("dup_of").isNotNull().alias("is_dup"),
    )


# ---------------------------------------------------------------------
# Sub-document (paragraph / line / segment) exact dedup — the C4 /
# RefinedWeb / MassiveText curation staple: a boilerplate paragraph
# repeated across thousands of pages is removed everywhere but its
# first occurrence, while the surrounding unique prose survives.
# Document-level dedup (above) cannot express this: the documents
# differ, only parts repeat.
# ---------------------------------------------------------------------


def segment_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    separator: str | None = None,
    words_per_segment: int = 12,
    min_chars: int = 1,
) -> DataFrame:
    """Corpus-wide exact segment dedup with first-occurrence keep.

    Split every document into ordered segments — by *separator*
    (paragraphs on ``"\\n\\n"``, lines on ``"\\n"``; a Java regex,
    also used literally as the rejoin string) when the corpus has
    layout, else fixed non-overlapping *words_per_segment* word
    windows (flat word-stream corpora) — then drop every segment whose
    exact text occurred earlier in the corpus, where "earlier" is the
    total order (id, segment index).  Segments shorter than
    *min_chars* are kept verbatim (too little signal to call them
    duplicates — the C4 rule ignores short lines).  Rows with NULL
    text are absent from the output (same as the SQL oracle, where
    NULL propagates to zero segment rows).

    Returns one row per input document: ``(id, n_segments, n_kept,
    text_dedup)`` with ``text_dedup`` the kept segments rejoined in
    original order (empty string when everything was a repeat).

    Plan (scale notes, 100 TB): segmentation is an Arrow-batched
    pandas UDF — MEASURED choice, not a default: the built-in
    ``transform(sequence(...), slice(words, ...))`` form re-evaluates
    the ``split`` inside the lambda once per segment (no CSE inside
    HOF lambda bodies, and staging the array as a column does not
    survive CollapseProject here), which is O(words²/n) per document —
    50 s for 30 docs of 30k words, where both the UDF and an
    explode+groupBy formation stay flat (~0.5 s).  The UDF wins over
    explode+groupBy because it keeps segmentation NARROW (no shuffle
    of every word).  The segment explode is narrow; the keep decision
    is a groupBy(min) on ``md5(segment)`` (one shuffle of narrow rows,
    map-side combine absorbs boilerplate mega-duplicates) left-joined
    back on the hash (hot keys are what AQE skew-join splits; a
    per-hash window-min would put a mega-duplicate\'s every copy in
    one task instead).  Reassembly + all counts happen in ONE
    groupBy(id) over keep-flagged segment rows — no totals join, no
    short-segment union, so the UDF subtree has exactly two consumers
    (winners + probe), each a single linear pass.  The original wide
    ``text`` column never shuffles.  "First occurrence wins" is a
    deterministic total order, so reruns and the DuckDB oracle agree
    exactly.
    """
    src = docs.filter(F.col(text_col).isNotNull())
    if separator is not None:
        staged = src.select(
            F.col(id_col).alias("_id"),
            F.split(F.col(text_col), separator, -1).alias("_segs"),
        )
    else:
        from pyspark.sql.pandas.functions import pandas_udf

        n = words_per_segment

        @pandas_udf("array<string>")
        def _segment(texts: pd.Series) -> pd.Series:
            def f(t: str) -> list[str]:
                ws = t.split(" ")
                return [
                    " ".join(ws[i : i + n])
                    for i in range(0, max(len(ws), 1), n)
                ]

            return texts.map(f)

        staged = src.select(
            F.col(id_col).alias("_id"), _segment(text_col).alias("_segs")
        )
    segs = staged.select(
        "_id", F.posexplode("_segs").alias("seg_idx", "seg")
    ).withColumn(
        "seg_hash",
        F.when(F.length("seg") >= min_chars, F.md5("seg")),
    )
    winners = (
        segs.filter(F.col("seg_hash").isNotNull())
        .groupBy("seg_hash")
        .agg(F.min(F.struct("_id", "seg_idx")).alias("first_at"))
    )
    flagged = segs.join(winners, "seg_hash", "left").withColumn(
        "_keep",
        F.col("seg_hash").isNull()  # short segment: exempt
        | (
            (F.col("_id") == F.col("first_at._id"))
            & (F.col("seg_idx") == F.col("first_at.seg_idx"))
        ),
    )
    joiner = separator if separator is not None else " "
    return flagged.groupBy("_id").agg(
        F.count("*").alias("n_segments"),
        F.sum(F.col("_keep").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(F.struct("seg_idx", "_keep", "seg"))
                    ),
                    lambda x: x["_keep"],
                ),
                lambda x: x["seg"],
            ),
            joiner,
        ).alias("text_dedup"),
    ).select(
        F.col("_id").alias(id_col), "n_segments", "n_kept", "text_dedup"
    )
