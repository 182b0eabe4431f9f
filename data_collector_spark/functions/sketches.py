"""Document-dedup sketches: MinHash+LSH, SimHash — JVM-side end to end.

Not in the reference (its dedup is exact PK conflict, SURVEY.md S7); these
are the near-dup operators a web-text training pipeline needs at 100 TB,
where exact-pair comparison is O(n^2) and infeasible. Design:

- the word base hash is the first 15 hex digits of ``md5(word)`` (a 60-bit
  int via ``conv``), and MinHash permutations are universal hashes
  (a*x + b) mod (2^31-1) over it with fixed splitmix64-derived (a, b) —
  ONE cryptographic hash per word and 32 cheap modular transforms, all
  whole-stage-codegen, and — unlike xxhash64 — bit-for-bit reproducible in
  ANSI SQL, so the DuckDB oracle can replay the exact sketch;
- MinHash: one groupBy computes all P permutations as min-aggregates;
  LSH bands turn signature equality into an equi-join (shuffle on band
  key), so candidate generation scales like a hash join, not a cross join;
- SimHash: 60 bit-majority aggregates per doc (60 bits = the md5 slice,
  keeping every value positive in a signed 64-bit int on both engines),
  banded 4 x 15 bits, with ``bit_count(xor)`` Hamming verification.

Both verify candidates from the signatures only — the sketches bound the
candidate set AND the verification cost, mirroring the engine's
Bloom-then-anti-join rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_collector_spark.functions.detrand import MINHASH_P, minhash_params

SIMHASH_BITS = 60
SIMHASH_BANDS = 4  # 15 bits each; pigeonhole covers hamming <= 3


def word_hash_col(col) -> F.Column:
    """60-bit integer hash of a string: first 15 hex digits of md5.
    Reproducible in DuckDB as CAST('0x' || substr(md5(w),1,15) AS BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def tokenize(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distinct (id, word) pairs — the shingle table."""
    return raw_words(docs, id_col, text_col).distinct()


def raw_words(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, word) per word OCCURRENCE — no dedup shuffle. The right input
    for multiplicity-invariant consumers (r7): MinHash min-aggregates see
    the same minimum over a multiset as over its set, and SimHash's
    ±cnt-weighted bit sums equal ±1 sums over occurrences by linearity —
    so neither needs the distinct's extra full shuffle of the word table
    (guide §2.4; the min/sum groupBys partial-aggregate map-side, so the
    only shuffle left is ~one row per doc)."""
    return docs.select(
        id_col, F.explode(F.split(text_col, r"\s+")).alias("word")
    ).filter(F.col("word") != "")


def word_ngrams(
    docs: DataFrame, n: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct (id, g) word n-grams — the shingle table for overlap-based
    operators (n-gram Jaccard, benchmark decontamination). Whole-stage
    codegen: one split + one transform/sequence explode; ``F.get`` (0-based,
    NULL-safe) instead of ``getItem`` per the ANSI-mode rule. Indices are
    bounded by the sequence upper end, so no NULL grams are produced."""
    ws = (
        docs.filter(F.trim(text_col) != "")
        .select(id_col, F.split(F.trim(text_col), r"\s+").alias("ws"))
        .filter(F.size("ws") >= n)
    )
    gram = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.size("ws") - n),
            lambda i: F.concat_ws(" ", *[F.get("ws", i + k) for k in range(n)]),
        )
    )
    return ws.select(id_col, gram.alias("g")).distinct()


def contaminated_docs(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_benchmark: bool | str = True,
    broadcast_max_docs: int = 200_000,
    broadcast_max_tokens: int = 5_000_000,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3/Pile eval-overlap rule): docs
    sharing >= 1 distinct word n-gram (default 13-gram) with any benchmark
    document, returned as (id, n_hit_grams).

    Scale shape: the benchmark side collapses to its DISTINCT gram set —
    eval suites are 10^5-10^6 grams, broadcastable next to a 10^10-doc
    training side, so the probe is a broadcast hash join with no shuffle of
    the big side. ``broadcast_benchmark`` controls the join strategy:

    - ``True``: always broadcast — only for callers that KNOW the probe
      side is an eval suite (small by construction);
    - ``False``: shuffle join on ``g`` — the correct shape when the probe
      side is itself a corpus split (trillions of distinct grams at 100 TB
      would OOM every executor through ``F.broadcast``);
    - ``"auto"``: gate on the benchmark's DOC count AND its estimated
      gram volume, both from ONE capped ``limit(max+1)`` aggregate scan
      (VERDICT r5 #1 + r6 #3 — mirrors the engine's
      ``robots_broadcast_max_rows`` gate). Docs alone were the wrong
      proxy: grams scale with TOKENS, not docs (a few 10^6-token docs
      pass any doc gate yet broadcast a multi-GB distinct-gram set), so
      the gate also bounds ``sum(token_count)`` over the same sample —
      grams per doc are <= tokens per doc for any n, making the token sum
      a safe upper bound on the broadcast gram count. An eval suite is
      10^3-10^5 docs / 10^5-10^6 grams; a corpus split is orders beyond,
      so both caps separate the regimes cleanly.

    The aggregation is a groupBy on the (already-distinct) hit grams per
    doc either way — both modes return identical rows (test-pinned)."""
    if isinstance(broadcast_benchmark, str) and broadcast_benchmark != "auto":
        # any other string ('Auto', 'shuffle', 'false') is truthy and would
        # silently take the always-broadcast branch — the OOM path the gate
        # exists to prevent (ADVICE r6)
        raise ValueError(
            f"broadcast_benchmark must be True, False or 'auto', "
            f"got {broadcast_benchmark!r}"
        )
    if broadcast_benchmark == "auto":
        from data_collector_spark.functions.textstats import token_count_col

        probe = benchmark.limit(broadcast_max_docs + 1).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(token_count_col(F.col(text_col))).alias("toks"),
        ).collect()[0]
        broadcast_benchmark = (
            probe["n"] <= broadcast_max_docs
            and (probe["toks"] or 0) <= broadcast_max_tokens
        )
    tg = word_ngrams(docs, n, id_col, text_col)
    bg = word_ngrams(benchmark, n, id_col, text_col).select("g").distinct()
    if broadcast_benchmark:
        bg = F.broadcast(bg)
    return (
        tg.join(bg, "g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hit_grams"))
    )


def minhash_signatures(words: DataFrame, n_perm: int = 32, id_col: str = "doc_id") -> DataFrame:
    """One row per doc: h0..h{P-1} minhash signature (P min-aggregates,
    one shuffle, one md5 per word)."""
    params = minhash_params(n_perm)
    r = F.pmod(word_hash_col(F.col("word")), F.lit(MINHASH_P))
    hashed = words.withColumn("_r", r)
    aggs = [
        F.min((F.lit(a) * F.col("_r") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"h{i}")
        for i, (a, b) in enumerate(params)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def band_key_cols(n_perm: int, bands: int) -> list[F.Column]:
    """One string key per band: 'h_i,h_j,...' — the same textual encoding
    the SQL oracle uses (concat_ws matches || on both engines)."""
    rows_per_band = n_perm // bands
    out = []
    for b in range(bands):
        cols = [f"h{b * rows_per_band + i}" for i in range(rows_per_band)]
        out.append(F.concat_ws(",", *[F.col(c).cast("string") for c in cols]))
    return out


def lsh_candidate_pairs(
    sig: DataFrame, n_perm: int = 32, bands: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """(a_id, b_id) candidate pairs: equal signature slice in >=1 band.

    Band rows are exploded then self-equi-joined on (band, key) — at scale
    this is a shuffle join on the band key, never a cross join.
    """
    band_cols = [
        F.struct(F.lit(b).alias("band"), key.alias("key"))
        for b, key in enumerate(band_key_cols(n_perm, bands))
    ]
    banded = sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id"))
        .distinct()
    )


def lsh_near_pairs(
    sig: DataFrame,
    n_perm: int = 32,
    bands: int = 8,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    broadcast_docs: bool | None = None,
) -> DataFrame:
    """(a_id, b_id, jaccard_est) near-dup pairs: signature slices equal in
    >= 1 band AND signature-agreement estimate >= threshold — the fused,
    signature-deduplicated form of ``lsh_candidate_pairs`` +
    ``estimated_jaccard`` (result-identical, r7 optimization).

    Why not band-join the docs directly: template-heavy corpora collapse
    onto few MinHash values, so band groups go quadratic in DOCS — at the
    50k-doc bench corpus one band key holds 26,654 docs and the doc-level
    band join emits 2.35e9 candidate rows, whose dedup ``.distinct()``
    alone shuffles ~40 GB (measured 321-512 s). The same corpus has only
    24,282 DISTINCT signatures, and docs with identical signatures are
    near-dups by construction (est = 1.0): grouping docs by signature
    first cuts the pairwise work ~17x here and quadratically in general
    (guide §2.3: shuffle the lightweight proxy, not the payload).

    Shape, all linear except the unavoidable pairwise-within-band step:

    1. one window over the signature groups docs -> rep = min id;
    2. the band self-join runs at DISTINCT-signature level on packed
       primitive band keys, each row carrying all packed slices;
    3. the join output (one row per band collision) projects the pair +
       its agreement estimate, then ONE groupBy(pair) both deduplicates
       multi-band candidates (map-side combine: a rep's band rows are
       co-located) and acts as the optimizer barrier that keeps the
       threshold filter out of the join;
    4. verification is shift/mask arithmetic on the packed slices the
       join already carries (zero extra joins);
    5. only CONFIRMED signature pairs expand back to doc pairs through the
       (id, rep) map — broadcast when the doc count is under the caller's
       gate, shuffle joins above it (AQE skew-splits the hot reps).

    Same-signature doc pairs short-circuit as est = 1.0 (>= any sane
    threshold; callers with threshold > 1 get nothing, as before).
    """
    rpb = n_perm // bands
    # Implementation notes (r7, all MEASURED at the 50k-doc bench corpus —
    # 140M band-collision rows, 93M distinct candidate sig pairs, 753M
    # output rows):
    #
    # - band keys are PACKED slices: minhash values are < 2^31 (mod
    #   MINHASH_P), so two pack exactly into one long — band b's join key
    #   is ceil(rpb/2) primitive longs (cheap shuffle hashing, no array
    #   join keys), and the verification later recovers per-element
    #   equality from the packs with shift/mask arithmetic;
    # - candidate dedup AND the threshold filter hang off ONE aggregation
    #   barrier: groupBy(pair) collapses multi-band duplicates via
    #   map-side partial aggregation (duplicates are co-located — all
    #   band rows of a rep come from the same explode task), and the
    #   est >= threshold filter sits ABOVE the aggregate, which the
    #   optimizer cannot push back into the band join. That matters
    #   because every "cleverer" formulation measured worse: putting the
    #   32-term agreement chain (or a first-matching-band when-chain over
    #   raw elements) into the join condition produces a giant generated
    #   method that the JIT refuses to compile, and the whole stage drops
    #   to interpreted bytecode (22 s -> 405 s); a broadcast re-attach of
    #   the signatures verified per pair materializes 64 columns per
    #   candidate (~50 GB of row writes, 22 s on its own). The barrier
    #   keeps every stage's expressions small: full query 27-46 s across
    #   repeated runs (this box swings +/-30%) vs 68-79 s (fused HOF
    #   verify) vs 321-512 s (doc-level band join, r6).
    npack = (rpb + 1) // 2
    hcols = [f"h{i}" for i in range(n_perm)]
    w = Window.partitionBy(*hcols)
    # the doc->rep map is NOT persisted: the returned plan is lazy, so a
    # cache would outlive the call for the whole session. Measured at
    # sf0.1 (4 cores): the uncached query is no slower than the cached one
    withrep = sig.select(F.col(id_col).alias("_id"), *hcols).select(
        "_id", *hcols, F.min("_id").over(w).alias("_rep")
    )
    if broadcast_docs is None:
        broadcast_docs = sig.count() <= 500_000

    pexprs, pmeta = [], []  # pmeta: (band, slot) -> has a hi+lo or hi-only pack
    for bnd in range(bands):
        for j, r in enumerate(range(0, rpb, 2)):
            lo_exists = r + 1 < rpb
            e2 = F.col(f"h{bnd * rpb + r + 1}") if lo_exists else F.lit(0).cast("long")
            pexprs.append(
                (F.col(f"h{bnd * rpb + r}") * F.lit(1 << 31) + e2).alias(f"_p{bnd}_{j}")
            )
            pmeta.append((bnd, j, lo_exists))
    pcols = [f"_p{bnd}_{j}" for bnd, j, _ in pmeta]
    # widen the heavy stage explicitly: the rep table is tiny in BYTES
    # (so AQE/scan splits coalesce it to a handful of partitions) but the
    # band join fans it out quadratically within collision groups —
    # hash-repartitioning the few-thousand-row rep table to
    # 2x defaultParallelism costs nothing and pins the enumeration's
    # parallelism to the machine instead of to the input's byte size
    # (a parquet-backed rep table collapsed the whole 140M-pair stage to
    # ONE task, 133 s vs 27 s; on an in-memory rep table the A/B is a wash
    # within this box's +/-30% noise, kept as the scale-safe shape;
    # scale-adaptive, never a hard-coded count)
    par = 2 * sig.sparkSession.sparkContext.defaultParallelism
    repsp = (
        withrep.filter(F.col("_id") == F.col("_rep"))
        .select("_rep", *pexprs)
        .repartition(par, "_rep")
    )
    banded = repsp.select(
        "_rep", *pcols,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(bnd).alias("band"),
                    *[F.col(f"_p{bnd}_{j}").alias(f"k{j}") for j in range(npack)],
                )
                for bnd in range(bands)
            ])
        ).alias("_bk"),
    ).select(
        "_rep", *pcols,
        F.col("_bk.band").alias("band"),
        *[F.col(f"_bk.k{j}").alias(f"k{j}") for j in range(npack)],
    )
    a, b = banded.alias("a"), banded.alias("b")
    key_eq = F.col("a.band") == F.col("b.band")
    for j in range(npack):
        key_eq = key_eq & (F.col(f"a.k{j}") == F.col(f"b.k{j}"))
    joined = a.join(b, key_eq & (F.col("a._rep") < F.col("b._rep")))
    # per-element agreement recovered from the packs: hi half is p >> 31
    # (exact: h < 2^31), lo half is p & (2^31 - 1); a hi-only pad slot
    # contributes no term
    mask31 = (1 << 31) - 1
    agree = None
    for bnd, j, lo_exists in pmeta:
        pa, pb = F.col(f"a._p{bnd}_{j}"), F.col(f"b._p{bnd}_{j}")
        hi = F.when(F.shiftright(pa, 31) == F.shiftright(pb, 31), 1).otherwise(0)
        agree = hi if agree is None else agree + hi
        if lo_exists:
            agree = agree + F.when(
                pa.bitwiseAND(F.lit(mask31)) == pb.bitwiseAND(F.lit(mask31)), 1
            ).otherwise(0)
    pair_rep = (
        joined.select(
            F.col("a._rep").alias("_ra"),
            F.col("b._rep").alias("_rb"),
            (agree / F.lit(n_perm)).alias("_est"),
        )
        .groupBy("_ra", "_rb")
        .agg(F.min("_est").alias("jaccard_est"))
        .filter(F.col("jaccard_est") >= threshold)
    )
    docmap = withrep.select("_id", "_rep")
    da = docmap.select(F.col("_rep").alias("_ra"), F.col("_id").alias("_da"))
    db = docmap.select(F.col("_rep").alias("_rb"), F.col("_id").alias("_db"))
    if broadcast_docs:
        da, db = F.broadcast(da), F.broadcast(db)
    cross = (
        pair_rep.join(da, "_ra")
        .join(db, "_rb")
        .select(
            F.least("_da", "_db").alias("a_id"),
            F.greatest("_da", "_db").alias("b_id"),
            "jaccard_est",
        )
    )
    x, y = docmap.alias("x"), (F.broadcast(docmap) if broadcast_docs else docmap).alias("y")
    same = (
        x.join(
            y,
            (F.col("x._rep") == F.col("y._rep"))
            & (F.col("x._id") < F.col("y._id")),
        )
        .select(
            F.col("x._id").alias("a_id"),
            F.col("y._id").alias("b_id"),
            F.lit(1.0).alias("jaccard_est"),
        )
        .filter(F.lit(1.0) >= threshold)
    )
    return cross.unionByName(same)


def exact_jaccard(words: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Exact word-set Jaccard for the given (a_id, b_id) pairs."""
    sizes = words.groupBy(id_col).agg(F.count("*").alias("n"))
    wa = words.select(F.col(id_col).alias("a_id"), "word")
    wb = words.select(F.col(id_col).alias("b_id"), "word")
    inter = (
        pairs.join(wa, "a_id")
        .join(wb, ["b_id", "word"])
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("c"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("a_id"), F.col("n").alias("na")), "a_id")
        .join(sizes.select(F.col(id_col).alias("b_id"), F.col("n").alias("nb")), "b_id")
        .select(
            "a_id",
            "b_id",
            (F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))).alias("jaccard"),
        )
    )


def estimated_jaccard(
    sig: DataFrame,
    pairs: DataFrame,
    n_perm: int = 32,
    id_col: str = "doc_id",
    broadcast_sig: bool | None = None,
) -> DataFrame:
    """Signature-based Jaccard estimate: fraction of agreeing minhashes.

    O(pairs x n_perm) — the verification step for LSH candidates at scale,
    where exact word-set intersection (O(pairs x |doc|)) melts down on
    near-dup-heavy corpora (every pair a spam cluster produces is a true
    candidate, so the exact join multiplies millions of pairs by document
    length).

    broadcast_sig=None (default) leaves the join strategy to Catalyst/AQE,
    which broadcasts iff the signature table's measured size is under the
    auto-broadcast threshold — size-aware instead of caller's-memory-aware.
    True/False force the hint on/off."""
    arr = F.array(*[f"h{i}" for i in range(n_perm)])
    sa = sig.select(F.col(id_col).alias("a_id"), arr.alias("siga"))
    sb = sig.select(F.col(id_col).alias("b_id"), arr.alias("sigb"))
    if broadcast_sig:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    agree = F.aggregate(
        F.zip_with("siga", "sigb", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        pairs.join(sa, "a_id")
        .join(sb, "b_id")
        .select("a_id", "b_id", (agree / F.lit(n_perm)).alias("jaccard_est"))
    )


def simhash(words_counted: DataFrame, id_col: str = "doc_id", bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash per doc from (id, word, cnt) rows.

    Bit-majority as ``bits`` conditional-sum aggregates over the 60-bit
    md5 word hash — all codegen'd; the per-bit sums recombine into one
    positive BIGINT column (60 bits never touches the sign bit, so the
    same arithmetic is valid in DuckDB).
    """
    if bits > 62:
        # 1 << 63 overflows a signed long on BOTH engines (the old 64-bit
        # variant special-cased the sign bit; this scheme stays positive)
        raise ValueError(f"simhash supports at most 62 bits, got {bits}")
    if bits != SIMHASH_BITS:
        # simhash_near_pairs bands assume the module-wide width; signatures
        # built differently would be silently mis-banded downstream
        raise ValueError(
            f"bits={bits} differs from SIMHASH_BITS={SIMHASH_BITS}; "
            "change the module constant so banding stays consistent"
        )
    h = word_hash_col(F.col("word"))
    hashed = words_counted.withColumn("_h", h)
    aggs = [
        F.sum(
            F.when(F.shiftright("_h", i).bitwiseAND(F.lit(1)) == 1, F.col("cnt")).otherwise(
                -F.col("cnt")
            )
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    per_bit = hashed.groupBy(id_col).agg(*aggs)
    sim = None
    for i in range(bits):
        term = F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = term if sim is None else (sim + term)
    return per_bit.select(id_col, sim.alias("simhash"))


def simhash_near_pairs(
    sigs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    broadcast_docs: bool | None = None,
) -> DataFrame:
    """Near-dup pairs by Hamming distance <= k, banded 4x15 bits.

    Pigeonhole: hamming<=3 over 4 bands guarantees one band matches
    exactly, so candidates come from an equi-join on (band, 15-bit slice).

    r7 shape (result-identical; see ``lsh_near_pairs`` for the rationale):
    docs collapse to DISTINCT simhash values first (identical values are
    hamming-0 pairs by construction), the band self-join runs at distinct-
    value level, candidate dedup is a first-matching-band predicate
    instead of a ``.distinct()`` shuffle of the pair stream, and only
    hamming-confirmed value pairs expand back to doc pairs.
    """
    width = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << width) - 1
    w = Window.partitionBy("simhash")
    # not persisted: see lsh_near_pairs
    withrep = sigs.select(F.col(id_col).alias("_id"), "simhash").select(
        "_id", "simhash", F.min("_id").over(w).alias("_rep")
    )
    if broadcast_docs is None:
        broadcast_docs = sigs.count() <= 500_000
    # repartition rationale: see lsh_near_pairs (tiny-bytes rep table,
    # quadratic band fan-out)
    par = 2 * sigs.sparkSession.sparkContext.defaultParallelism
    reps = (
        withrep.filter(F.col("_id") == F.col("_rep"))
        .select("_rep", "simhash")
        .repartition(par, "_rep")
    )
    banded = reps.select(
        "_rep", "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright("simhash", b * width)
                    .bitwiseAND(F.lit(mask))
                    .alias("key"),
                )
                for b in range(SIMHASH_BANDS)
            ])
        ).alias("bk"),
    ).select(
        "_rep", "simhash",
        F.col("bk.band").alias("band"), F.col("bk.key").alias("key"),
    )
    a, b = banded.alias("a"), banded.alias("b")

    def band_differs(i: int):
        return (
            F.shiftright(F.col("a.simhash"), i * width).bitwiseAND(F.lit(mask))
            != F.shiftright(F.col("b.simhash"), i * width).bitwiseAND(F.lit(mask))
        )

    # first-matching-band predicate as a literal when-chain (codegen; see
    # lsh_near_pairs)
    first_band = F.when(F.col("a.band") == 0, F.lit(True))
    for k in range(1, SIMHASH_BANDS):
        cond = band_differs(0)
        for i in range(1, k):
            cond = cond & band_differs(i)
        first_band = first_band.when(F.col("a.band") == k, cond)
    pair_rep = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a._rep") < F.col("b._rep")),
        )
        .filter(first_band)
        .select(
            F.col("a._rep").alias("_ra"),
            F.col("b._rep").alias("_rb"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    docmap = withrep.select("_id", "_rep")
    da = docmap.select(F.col("_rep").alias("_ra"), F.col("_id").alias("_da"))
    db = docmap.select(F.col("_rep").alias("_rb"), F.col("_id").alias("_db"))
    if broadcast_docs:
        da, db = F.broadcast(da), F.broadcast(db)
    cross = (
        pair_rep.join(da, "_ra")
        .join(db, "_rb")
        .select(
            F.least("_da", "_db").alias("a_id"),
            F.greatest("_da", "_db").alias("b_id"),
            "hamming",
        )
    )
    x, y = docmap.alias("x"), (F.broadcast(docmap) if broadcast_docs else docmap).alias("y")
    same = (
        x.join(
            y,
            (F.col("x._rep") == F.col("y._rep"))
            & (F.col("x._id") < F.col("y._id")),
        )
        .select(
            F.col("x._id").alias("a_id"),
            F.col("y._id").alias("b_id"),
            F.lit(0).cast("int").alias("hamming"),
        )
        .filter(F.lit(0) <= max_hamming)
    )
    return cross.unionByName(same)
