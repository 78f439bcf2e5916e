"""Deduplication operators for training-data pipelines.

Every near-dup path here is BUCKETED — candidates come from equality joins
on band/bucket keys, never from an all-pairs crossJoin (which is a
cartesian scale-killer at 100 TB). The shapes:

- exact:    hash-groupBy on md5(text) — one shuffle on the hash key.
- MinHash:  shingles → one base hash each (md5-derived by default, so the
            DuckDB oracle can reproduce signatures; xx64 for max
            throughput) → k affine-family minhashes → b bands → explode →
            self-equi-join on (band, band_hash) → verify exact Jaccard on
            the candidate pairs only.
- SimHash:  60-bit signature (JVM-side: one md5-derived hash per token —
            SQL-reproducible, xx64 opt-in — + one F.aggregate ±1
            accumulation over the bit positions) → 4×15-bit chunk bucket
            join (any pair within Hamming distance 3 shares ≥1 exact
            chunk, pigeonhole) → verify with bit_count(xor).

All signatures/hashes are seeded deterministically so results are stable
across runs and match golden tests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from zx_spark.functions.text import shingles_from_tokens, tokenize, word_shingles


from zx_spark.util import lit_array
from zx_spark.util import spread as _spread  # one shared guard + docstring


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate groups: one row per distinct content hash with the
    kept (minimum) id and the duplicate count. Single hash-shuffle; the
    map-side partial agg means the shuffle carries one row per distinct
    hash per partition, not per input row."""
    h = F.md5(F.col(text_col))
    return (
        df.groupBy(h.alias("content_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep exactly one row (the min id) per distinct text. Implemented as
    a min-id semi-join rather than dropDuplicates so the kept row is
    deterministic under parallelism.

    NULL text is NOT content: such rows pass through untouched. Without
    this, md5(NULL)=NULL and groupBy's null-equality would collapse every
    NULL-text row (e.g. media-only docs) into one survivor — silent mass
    deletion (``exact_dedup_groups`` keeps the single-NULL-group behavior
    for REPORTING, where one 'no content' row is the useful shape)."""
    keep = exact_dedup_groups(
        df.filter(F.col(text_col).isNotNull()), text_col, id_col
    ).select(F.col("keep_id").alias(id_col))
    deduped = df.filter(F.col(text_col).isNotNull()).join(
        keep, on=id_col, how="left_semi"
    )
    return deduped.unionByName(df.filter(F.col(text_col).isNull()))


_LONG_MAX = (1 << 63) - 1
_MERSENNE = (1 << 31) - 1

# Deterministic affine-family coefficients (a*h + b mod 2^31-1): the
# standard pairwise-independent MinHash construction. Fixed seed so
# signatures are stable across runs/sessions.
import random as _random

_rnd = _random.Random(0x5A78)
_MINHASH_A = [_rnd.randrange(1, _MERSENNE) for _ in range(64)]
_MINHASH_B = [_rnd.randrange(0, _MERSENNE) for _ in range(64)]


def base_hash(s: Column, method: str = "md5") -> Column:
    """Shingle → int in [0, 2^31-1).

    ``md5`` (default): first 8 hex digits of md5 — reproducible in ANSI
    SQL (``('0x'||substr(md5(s),1,8))::bigint``), which is what lets the
    driver's DuckDB oracle verify the whole LSH pipeline value-for-value
    instead of rows-only. ~30% slower than xxhash64 on the hashing stage
    (the affine maps dominate the signature anyway).

    ``xx64``: xxhash64 — the max-throughput choice for 100 TB production
    runs where no SQL oracle needs to reproduce the signatures."""
    if method == "xx64":
        return F.pmod(F.xxhash64(s), F.lit(_MERSENNE))
    if method != "md5":
        raise ValueError(f"base_hash method must be 'md5' or 'xx64', got {method!r}")
    return F.pmod(
        F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"), F.lit(_MERSENNE)
    )


def minhash_signature(
    text: Column, num_hashes: int = 32, shingle_n: int = 3, hash_method: str = "md5"
) -> Column:
    """Array of ``num_hashes`` minhashes over n-word shingles — one
    ``F.aggregate`` pass, JVM-side, no Python.

    Each shingle is string-hashed ONCE (``base_hash``), then the
    ``num_hashes`` family members are cheap affine maps ``(a_i*h + b_i)
    mod 2^31-1`` (pairwise-independent universal hashing). The previous
    formulation string-hashed per (shingle, seed) — num_hashes O(len)
    string hashes per shingle vs one here; measured ~2× faster end-to-end
    at 5k docs. Products stay < 2^62, so no overflow under ANSI mode. The
    naive per-seed formulation (num_hashes separate ``array_min`` passes)
    re-builds the shingle array once per seed — measured ~6× slower."""
    return minhash_from_shingles(
        word_shingles(text, shingle_n), num_hashes, hash_method
    )


def minhash_from_shingles(
    shingles: Column, num_hashes: int = 32, hash_method: str = "md5"
) -> Column:
    """Signature from a shingle-array expression — pass
    ``shingles_from_tokens`` over a MATERIALIZED token column here (see
    functions.text.tokenize) so the tokenizer runs once per row, not once
    per shingle position."""
    # single array-literal nodes (not num_hashes lit nodes each) — same
    # long values, smaller expression tree for Catalyst
    a_arr = lit_array(list(_MINHASH_A[:num_hashes])).cast("array<long>")
    b_arr = lit_array(list(_MINHASH_B[:num_hashes])).cast("array<long>")
    hashed = F.transform(shingles, lambda sh: base_hash(sh, hash_method))
    return F.aggregate(
        hashed,
        F.array_repeat(F.lit(_LONG_MAX).cast("long"), num_hashes),
        lambda acc, h: F.zip_with(
            acc,
            F.zip_with(a_arr, b_arr, lambda a, b: F.pmod(a * h + b, F.lit(_MERSENNE))),
            lambda x, y: F.least(x, y),
        ),
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    shingle_n: int = 3,
    hash_method: str = "md5",
    engine: str = "agg",
) -> DataFrame:
    """(id, minhash) signature frame — the signing stage as a DataFrame.

    Two engines computing IDENTICAL signatures (every doc has ≥ 1
    shingle — ``shingles_from_tokens`` gives short docs their whole text
    and empty docs the ``""`` shingle — so the explode formulation drops
    no documents and the fold's LONG_MAX seed is always dominated):

    - ``"agg"`` (default): explode shingles → one base-hash projection →
      ``groupBy(row-key, id).agg(min(affine_i(h)) × num_hashes)`` (the
      per-row key preserves the fold's one-signature-per-ROW contract
      under duplicate or NULL ids) → array. Every
      expression runs inside WHOLE-STAGE CODEGEN (HashAggregate min),
      where the per-row fold runs interpreted — measured **4.6×** faster
      on the signing stage at the 100× store (36.2s → 7.8s; full
      near_dup_pairs 39.8s → 20.4s — SCALE.md "MinHash stage profile").
      Costs one tiny exchange: partial-agg rows are one 32-long vector
      per (doc × input partition), i.e. ~one row per doc since docs
      never split across partitions. The base hash is projected as a
      NAMED column referenced by all ``num_hashes`` aggregates, so
      CollapseProject keeps exactly one md5 per shingle (same discipline
      as functions.text.tokenize).
    - ``"fold"``: the original per-row higher-order ``F.aggregate``
      (``minhash_from_shingles``) — zero shuffle, but interpreted
      per-shingle array math. Keep for Column-expression composition
      (e.g. signing inside a wider per-row projection).
    """
    base = _spread(df).select(
        F.col(id_col), tokenize(F.col(text_col)).alias("__toks")
    )
    if engine == "fold":
        return base.select(
            F.col(id_col),
            minhash_from_shingles(
                shingles_from_tokens(F.col("__toks"), shingle_n),
                num_hashes,
                hash_method,
            ).alias("minhash"),
        )
    if engine != "agg":
        raise ValueError(f"engine must be 'agg' or 'fold', got {engine!r}")
    # explode_outer (not explode): InferFiltersFromGenerate would add a
    # vacuous size()>0 filter that re-builds the shingle array per row
    # (tf_idf's hazard); shingle elements are never NULL, so no filter
    # is needed to restore inner semantics.
    #
    # The aggregation groups on a per-ROW key, not id_col: grouping on
    # the id alone would merge duplicate-id rows (and ALL null-id rows)
    # into one union-of-shingle-sets signature, silently diverging from
    # the fold's one-signature-per-row contract. The row key is
    # monotonically_increasing_id taken BEFORE the explode — its values
    # are layout-dependent, but it is only a grouping key and is
    # dropped, so the output (id, minhash) multiset is deterministic.
    # __rid is materialized in its OWN projection below the Generate so
    # it is assigned once per input row, never once per exploded shingle
    with_rid = base.select(
        F.col(id_col),
        F.monotonically_increasing_id().alias("__rid"),
        F.col("__toks"),
    )
    ex = (
        with_rid.select(
            F.col(id_col),
            F.col("__rid"),
            F.explode_outer(
                shingles_from_tokens(F.col("__toks"), shingle_n)
            ).alias("__sh"),
        )
        .select(
            F.col(id_col),
            F.col("__rid"),
            base_hash(F.col("__sh"), hash_method).alias("__h"),
        )
    )
    aggs = [
        F.min(
            F.pmod(
                F.lit(_MINHASH_A[i]) * F.col("__h") + F.lit(_MINHASH_B[i]),
                F.lit(_MERSENNE),
            )
        ).alias(f"__m{i}")
        for i in range(num_hashes)
    ]
    return (
        ex.groupBy("__rid", id_col)
        .agg(*aggs)
        .select(
            F.col(id_col),
            F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias(
                "minhash"
            ),
        )
    )


def minhash_bands(
    df: DataFrame,
    id_col: str,
    sig_col: str = "minhash",
    bands: int = 8,
    sig_len: int | None = None,
) -> DataFrame:
    """Explode a signature into ``bands`` (band_no, band_hash) bucket keys.
    Two documents land in the same bucket iff one band of their signatures
    agrees exactly — the standard LSH banding construction. The key is the
    band's values joined as a string (not re-hashed): equality is what the
    join needs, and the plain form is ANSI-SQL-reproducible for the
    oracle.

    ``sig_len``: the signature width when the caller knows it at plan
    time (``num_hashes`` — every library caller does). The band keys are
    then built as STATIC ``concat_ws``/ordinal expressions that run in
    whole-stage codegen; the dynamic form below is nested higher-order
    lambdas (``transform``/``slice``/``array_join`` over a runtime
    ``sequence``), interpreted per ROW per BAND — measured 1.5-2× slower
    on the banding projection (r14). Identical band_no/band_hash values
    either way (non-null longs, same cast-to-string, same ',' join)."""
    sig = F.col(sig_col)
    if sig_len is not None:
        if bands < 1 or sig_len % bands != 0:
            raise ValueError(
                f"bands must divide sig_len (got sig_len={sig_len}, bands={bands})"
            )
        rpb = sig_len // bands
        band_keys = F.array(
            *[
                F.concat_ws(
                    ",",
                    *[sig[b * rpb + i].cast("string") for i in range(rpb)],
                )
                for b in range(bands)
            ]
        )
        return df.select(
            F.col(id_col), F.posexplode(band_keys).alias("band_no", "band_hash")
        )
    return df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.array_join(
                    F.transform(
                        F.slice(sig, b * (F.size(sig) / bands).cast("int") + 1,
                                (F.size(sig) / bands).cast("int")),
                        lambda h: h.cast("string"),
                    ),
                    ",",
                ),
            )
        ).alias("band_no", "band_hash"),
    )


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    hash_method: str = "md5",
    signatures: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b), deduplicated across bands.

    Plan shape: one projection for signatures, one explode (bands× rows),
    one shuffle for the self-equi-join on (band_no, band_hash), one
    distinct. No cartesian product anywhere; AQE's skew-join handling
    splits any hot bucket (e.g. a boilerplate shingle set shared by
    thousands of docs).

    The input is repartitioned before signing: the signature (one string
    hash + num_hashes affine maps per shingle) is the CPU-heavy stage and
    a small parquet file otherwise arrives as ONE partition, serializing
    the whole stage on one core.

    ``signatures``: a precomputed ``signature_table``/``minhash_signatures``
    frame (persist it) — pipelines that also band the SAME signatures
    elsewhere (incremental ingest, a leakage-safe split) pass it so the
    CPU-dominant signing pass runs ONCE; it must have been built with
    the same ``num_hashes``/``shingle_n``/``hash_method``.
    """
    if bands < 1 or bands > num_hashes or num_hashes % bands != 0:
        # A non-divisor silently drops the tail minhashes from every band
        # (weaker LSH than configured); bands > num_hashes makes every
        # band slice empty → band_hash '' for ALL docs → the full O(n^2)
        # cross-product this module promises never happens.
        raise ValueError(
            f"bands must divide num_hashes (got num_hashes={num_hashes}, bands={bands})"
        )
    if signatures is not None:
        # a frame signed with a different num_hashes would silently
        # band only the first num_hashes/bands elements (the exact
        # tail-drop the divisor guard above exists to prevent) —
        # enforce the width IN the plan, the incremental_near_dups
        # discipline: a FILTER condition (not a droppable column) that
        # costs one codegen comparison per row
        chk = F.assert_true(
            F.size("minhash") == num_hashes,
            F.concat(
                F.lit(
                    f"signatures width != num_hashes={num_hashes} "
                    "(was the frame signed with different parameters?); got "
                ),
                F.size("minhash").cast("string"),
            ),
        )
        sigs = signatures.filter(chk.isNull())
    else:
        sigs = minhash_signatures(
            df, text_col, id_col, num_hashes, shingle_n, hash_method
        )
    banded = minhash_bands(sigs, id_col, "minhash", bands, sig_len=num_hashes)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band_no") == F.col("b.band_no"),
                F.col("a.band_hash") == F.col("b.band_hash"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs only (two broadcast-able
    hash joins back to the shingle sets — never all-pairs)."""
    sets_df = (
        _spread(df)
        .select(F.col(id_col), tokenize(F.col(text_col)).alias("__toks"))
        .select(
            F.col(id_col),
            F.array_distinct(
                shingles_from_tokens(F.col("__toks"), shingle_n)
            ).alias("sh"),
        )
    )
    out = (
        pairs.join(sets_df.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sets_df.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    )
    # |A ∪ B| = |A| + |B| − |A ∩ B| for the already-distinct shingle
    # sets: one array_intersect per pair instead of intersect + a
    # materialized array_union (the union array was built only to be
    # sized — r14; same integer sizes, so the rounded jaccard is
    # value-identical).
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    union = (F.size(F.col("sh_a")) + F.size(F.col("sh_b"))).cast("double") - inter
    return out.select(
        "id_a",
        "id_b",
        F.round(inter / F.greatest(union, F.lit(1.0)), 6).alias("jaccard"),
    )


def near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    hash_method: str = "md5",
    signatures: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, verified with exact Jaccard ≥
    threshold. The full bucketed pipeline: sign → band → bucket-join →
    verify. ``signatures`` passes a precomputed signature frame through
    to the candidate stage (sign once when a pipeline also bands the
    same signatures elsewhere)."""
    cands = minhash_candidate_pairs(
        df, text_col, id_col, num_hashes, bands, shingle_n, hash_method,
        signatures=signatures,
    )
    return jaccard_pairs(df, cands, text_col, id_col, shingle_n).filter(
        F.col("jaccard") >= threshold
    )


# 60 bits: the md5-derived token hash is 15 hex digits so the signature
# stays a POSITIVE int64 on both engines (16 digits could set the sign
# bit, which DuckDB's '0x..'::bigint cast rejects). 4 chunks of 15 bits
# keep the pigeonhole guarantee for Hamming distance <= 3.
_SIMHASH_BITS = 60
_SIMHASH_CHUNKS = 4
_CHUNK_BITS = _SIMHASH_BITS // _SIMHASH_CHUNKS


def _simhash_token_hash(t: Column, method: str = "md5") -> Column:
    """Token → 60-bit int. ``md5`` (default) is ANSI-SQL-reproducible
    (``('0x'||substr(md5(t),1,15))::bigint``) so the DuckDB oracle can
    verify the full SimHash pipeline; ``xx64`` uses xxhash64's low bits
    for max throughput (rows-only verification)."""
    if method == "xx64":
        return F.xxhash64(t)
    if method != "md5":
        raise ValueError(f"hash method must be 'md5' or 'xx64', got {method!r}")
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def _simhash_bit_counts(text: Column, hash_method: str = "md5") -> Column:
    """60-element ±1 per-bit accumulation over token hashes — pure
    Catalyst (the same one-``F.aggregate``-pass pattern as
    ``minhash_signature``). For each whitespace token: hash it JVM-side,
    then add +1/-1 to each bit position depending on the hash bit. No
    Python anywhere (an earlier revision looped per byte in a pandas UDF
    — orders of magnitude slower at scale)."""
    toks = F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != F.lit(""))
    hashed = F.transform(toks, lambda t: _simhash_token_hash(t, hash_method))
    bit_nos = F.sequence(F.lit(0), F.lit(_SIMHASH_BITS - 1))
    return F.aggregate(
        hashed,
        F.array_repeat(F.lit(0).cast("long"), _SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                bit_nos,
                lambda b: F.when(
                    F.call_function("shiftright", h, b).bitwiseAND(F.lit(1)) == F.lit(1),
                    F.lit(1),
                )
                .otherwise(F.lit(-1))
                .cast("long"),
            ),
            lambda a, d: a + d,
        ),
    )


def _simhash_from_counts(acc: Column) -> Column:
    """Fold the ±1 bit counts into one 60-bit signature: bit b set iff
    acc[b] > 0. Always positive (no sign bit), so the value round-trips
    identically through DuckDB."""
    bit_vals = F.zip_with(
        acc,
        F.sequence(F.lit(0), F.lit(_SIMHASH_BITS - 1)),
        lambda a, b: F.call_function(
            "shiftleft",
            F.when(a > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"),
            b,
        ),
    )
    return F.aggregate(bit_vals, F.lit(0).cast("long"), lambda s, v: s + v)


def simhash(
    df: DataFrame,
    text_col: str,
    out_col: str = "simhash",
    hash_method: str = "md5",
    columns: list[str] | None = None,
) -> DataFrame:
    """60-bit SimHash signature column — fully JVM-side.

    Two engines, dispatched on ``columns`` (r15, closing the r14
    residue #5 docstring-referral):

    - ``columns=None`` (default): the ZERO-SHUFFLE per-row fold — the
      signature lands beside every existing column (two projections:
      bit-count accumulation, then bit packing; kept separate so the
      token aggregation is evaluated once, not once per bit). The
      60-wide transform + zip_with is interpreted per token — pay that
      only when the keep-all-columns contract is actually needed.
    - ``columns=[...]`` (a NARROW consumer: only these columns + the
      signature survive): the explode + groupBy-sum agg engine — the
      per-token bit counting runs in whole-stage codegen and measured
      **3.1×** faster (10.7 → 3.5 s at 200k × 100-token docs, r14), at
      the cost of one narrow exchange (carried columns ride the group
      key next to the unique per-row id, so duplicate/NULL values and
      one-signature-per-row semantics are preserved). Signatures are
      BIT-IDENTICAL between engines (see ``_simhash_agg``)."""
    if columns is not None:
        missing = [c for c in columns if c not in df.columns]
        if missing:
            raise ValueError(f"columns {missing} not in frame")
        return _simhash_agg(df, text_col, list(columns), hash_method, out_col)
    acc_col = "__simhash_acc"
    return (
        _spread(df)
        .withColumn(acc_col, _simhash_bit_counts(F.col(text_col), hash_method))
        .withColumn(out_col, _simhash_from_counts(F.col(acc_col)))
        .drop(acc_col)
    )


def _simhash_agg(
    df: DataFrame,
    text_col: str,
    cols: list[str],
    hash_method: str = "md5",
    out_col: str = "simhash",
) -> DataFrame:
    """(cols..., out_col) via explode + groupBy-sum — the codegen signing
    engine (the ``minhash_signatures`` "agg" pattern applied to SimHash;
    3.1× over the per-row fold, r14). BIT-IDENTICAL signatures to
    the ``simhash`` fold: per bit b the ±1 fold total is 2·Σ bit_b(h) −
    n_tokens, both integer sums, so sign and packing agree for every
    token order; NULL text stays NULL (``__n`` NULL marker), zero-token
    text stays 0 (coalesced sums over the explode_outer NULL row).
    Grouping on a per-ROW key (with the carried ``cols`` alongside)
    preserves one-signature-per-row under duplicate/NULL values,
    exactly like the minhash engine."""
    toks = F.filter(
        F.split(F.lower(F.col(f"`{text_col}`")), r"\s+"), lambda t: t != F.lit("")
    )
    carried = [F.col(f"`{c}`") for c in cols]
    wr = _spread(df).select(
        *carried,
        F.monotonically_increasing_id().alias("__rid"),
        toks.alias("__toks"),
    )
    ex = wr.select(
        *cols,
        "__rid",
        F.size("__toks").alias("__n"),
        F.explode_outer("__toks").alias("__t"),
    ).select(
        *cols,
        "__rid",
        "__n",
        _simhash_token_hash(F.col("__t"), hash_method).alias("__h"),
    )
    aggs = (
        [F.max("__n").alias("__n")]
        + [
            F.coalesce(
                F.sum(F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1))),
                F.lit(0).cast("long"),
            ).alias(f"__c{b}")
            for b in range(_SIMHASH_BITS)
        ]
        + [F.count("__h").alias("__cnt")]
    )
    g = ex.groupBy("__rid", *cols).agg(*aggs)
    # bit b set iff the ±1 fold total 2·cnt_b − n > 0; packed as a
    # 60-term sum per GROUP row (one per doc — cheap here, unlike the
    # per-token unrolls the est_jaccard note warns about)
    sig = None
    for b in range(_SIMHASH_BITS):
        term = F.shiftleft(
            F.when(2 * F.col(f"__c{b}") > F.col("__cnt"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long"),
            b,
        )
        sig = term if sig is None else sig + term
    return g.select(
        *cols,
        F.when(F.col("__n").isNull(), F.lit(None).cast("long"))
        .otherwise(sig)
        .alias(out_col),
    )


def _simhash_signatures(
    df: DataFrame, text_col: str, id_col: str, hash_method: str = "md5"
) -> DataFrame:
    """(id, simhash) — the narrow signing entry the pairs path uses;
    delegates to the shared ``_simhash_agg`` engine."""
    return _simhash_agg(df, text_col, [id_col], hash_method, "simhash")


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    hash_method: str = "md5",
) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance ``max_hamming`` (≤3):
    split the 60-bit signature into 4 15-bit chunks; by pigeonhole any pair
    within distance 3 agrees on ≥1 full chunk, so an equality join on
    (chunk_no, chunk_value) finds all of them; verify with
    ``bit_count(a ^ b)``. Bucketed — no crossJoin."""
    if not 0 <= max_hamming < _SIMHASH_CHUNKS:
        # Pigeonhole recall only holds for distance < number of chunks; a
        # larger threshold would silently MISS qualifying pairs whose
        # differing bits spread across all chunks.
        raise ValueError(
            f"max_hamming must be in [0, {_SIMHASH_CHUNKS - 1}] for the "
            f"{_SIMHASH_CHUNKS}-chunk pigeonhole join, got {max_hamming}"
        )
    sigs = _simhash_signatures(df, text_col, id_col, hash_method)
    chunk_mask = (1 << _CHUNK_BITS) - 1
    chunks = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), _CHUNK_BITS * c).bitwiseAND(
                        F.lit(chunk_mask)
                    )
                    for c in range(_SIMHASH_CHUNKS)
                ]
            )
        ).alias("chunk_no", "chunk_val"),
    )
    # merge pin: with the agg signing engine the (id, simhash) frame is
    # an aggregate OUTPUT — data-sized (∝ corpus) but estimate-small, the
    # SCALE.md r12 broadcast class (the audit gate flagged exactly this
    # plan when the engine switched, r14). Sort-merge is spillable; the
    # fold engine's projection never tripped it only because its size
    # estimate tracked the scan.
    a, b = chunks.hint("merge").alias("a"), chunks.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.chunk_no") == F.col("b.chunk_no"),
                F.col("a.chunk_val") == F.col("b.chunk_val"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def dup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a near-duplicate pair list: ``(doc_id,
    component)`` where ``component`` is the minimum id reachable through
    any chain of pairs — the union-find clustering web-scale dedup
    pipelines apply to MinHash pairs (keep ONE document per cluster,
    not merely the lower id of each pair; a~b, b~c collapses all three
    even though a and c were never a pair).

    Iterative label propagation, Spark-shaped: each round every node
    takes the min of its label and its neighbors' labels — two shuffles
    per round (join on node, min-agg), label count strictly shrinks, and
    the loop exits as soon as a round changes nothing. Rounds needed =
    the graph's label-propagation diameter (duplicate clusters are
    near-cliques, so 2-3 in practice; ``max_iter`` bounds adversarial
    chains). ``localCheckpoint`` truncates the growing lineage each
    round — without it the plan doubles per iteration. The driver-side
    loop is control flow only; all data movement stays distributed.

    Jobs: one for the edge-list checkpoint, then ONE action per round —
    the round's convergence count, which also materializes the round's
    lazy checkpoint (plus the AQE shuffle-map stages it depends on).
    Round 1 needs no label frame: every node starts as its own label,
    so its new label is a per-node min over the edge list alone.
    Measured on a 10-node chain (9 rounds): 49 jobs in all.
    """
    # localCheckpoint the EDGE LIST itself, not just the labels: the
    # loop below reads edges every round, and without truncation each
    # read re-materializes the caller's whole pair pipeline (at the sf10
    # sweep: the full MinHash sign→band→verify chain re-ran per
    # iteration, rebuilding its broadcasts each time until the 8g
    # driver hit 'Not enough memory to build and broadcast' — r10).
    # The edge list is O(duplicate mass) rows of two longs: cheap to
    # pin, and AQE then plans the loop's joins from its REAL size.
    # Both directions come from ONE pass over the pair pipeline: a
    # union of two selects over `pairs` executes the caller's whole
    # sign→band→verify chain once per branch (measured 2× the cold
    # checkpoint time at sf0.1); exploding a per-row 2-array keeps a
    # single subtree.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
                    ),
                    F.struct(
                        F.col(id_b).alias("src"), F.col(id_a).alias("dst")
                    ),
                )
            ).alias("__e")
        )
        .select("__e.src", "__e.dst")
        .localCheckpoint()
    )
    labels = None
    changed = 0
    for _ in range(max_iter):
        if labels is None:
            # round 1: labels are the identity, so a node's new label is
            # min(itself, its neighbors' ids) — one aggregation over the
            # symmetric edge list (every node appears as a dst). The
            # when() keeps a NULL node's label NULL, as the join below
            # would (least() would skip the NULL).
            step = (
                edges.groupBy(F.col("dst").alias("node"))
                .agg(F.min("src").alias("__m"))
                .select(
                    "node",
                    F.when(F.col("__m") < F.col("node"), F.col("__m"))
                    .otherwise(F.col("node"))
                    .alias("component"),
                    F.col("node").alias("__old"),
                )
            )
        else:
            # every node's new label: min over itself and its neighbors.
            # shuffle_hash hint on the labels side: labels is one row per
            # NODE of the pair graph — corpus-order, never a dim table —
            # but its ESTIMATED size can sit under the broadcast
            # threshold, and AQE then builds it on the driver (measured at
            # the sf10 sweep, r10: 'Not enough memory to build and
            # broadcast' killed the leakage-safe-split arm on an 8g
            # driver). The hint forbids the broadcast cliff; the loop's
            # two shuffles per round are the design.
            #
            # r14 opt: the node's OLD label rides the same aggregation
            # (the self rows are tagged, min-over-self = the unique
            # previous label), so the per-round convergence check is a
            # filter+count over the checkpointed frame instead of a third
            # shuffle-join per round. Propagated labels are identical.
            step = (
                edges.hint("shuffle_hash")
                .join(
                    labels.hint("shuffle_hash"), edges["src"] == labels["node"]
                )
                .select(
                    F.col("dst").alias("node"),
                    "component",
                    F.lit(None).cast("long").alias("__self"),
                )
                .union(labels.select("node", "component", F.col("component").alias("__self")))
                .groupBy("node")
                .agg(
                    F.min("component").alias("component"),
                    F.min("__self").alias("__old"),
                )
            )
        # LAZY checkpoint: the convergence count below is the action
        # that materializes it, so a round is one action, not a
        # checkpoint job plus a count job (the pagerank tol pattern)
        step = step.localCheckpoint(eager=False)
        changed = step.filter(F.col("component") != F.col("__old")).count()
        labels = step.select("node", "component")
        if changed == 0:
            break
    if labels is None:  # max_iter < 1: no round ran
        labels = (
            edges.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("component", F.col("node"))
        )
    if changed:
        # A chain whose propagation diameter exceeds max_iter would return
        # partially-merged components — drop_by_components would then keep
        # more than one survivor per true cluster with no visible signal.
        import warnings

        warnings.warn(
            f"dup_components stopped after max_iter={max_iter} rounds with "
            f"{changed} labels still changing — components are PARTIALLY "
            "merged; raise max_iter for chains with a longer propagation "
            "diameter",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("node").alias("doc_id"), "component")


# Flag/drop id-frames narrower than this many rows broadcast for the
# anti-join (ids are 8-16 byte rows — 4M ids ≈ tens of MB built); past it
# the join pins sort-merge (spillable at any drop rate).
ANTI_JOIN_BROADCAST_MAX_IDS = 4_000_000


def anti_join_ids(
    df: DataFrame,
    ids: DataFrame,
    id_col: str,
    broadcast_threshold: int = ANTI_JOIN_BROADCAST_MAX_IDS,
) -> DataFrame:
    """Drop ``df`` rows whose id appears in ``ids`` — the flag/drop-set
    anti-join every removal operator shares (near-dup drops, SemDeDup
    losers, contamination flags).

    The id frame is an aggregate/distinct OUTPUT whose size is the
    duplicate or contamination MASS — ∝ the corpus in the worst case, so
    neither a blanket ``F.broadcast`` (the r12 estimate-small OOM class:
    a 50%-duplicate web crawl has a corpus-sized drop set) nor a blanket
    sort-merge (a shuffle of the whole corpus to drop 0.1% of it) is
    right. One driver-side count of the narrow id frame decides:
    broadcast only when the MEASURED set fits ``broadcast_threshold``,
    else pin sort-merge. The count makes the broadcast a runtime-verified
    bound — a tested attestation, not a waiver (VERDICT r13 item 1;
    tests/test_broadcast_attestations.py adjudicates the class)."""
    ids = ids.select(F.col(f"`{id_col}`"))
    if ids.count() <= broadcast_threshold:
        return df.join(F.broadcast(ids), id_col, "left_anti")
    return df.join(ids.hint("merge"), id_col, "left_anti")


def drop_by_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Cluster-level near-dup removal: keep the minimum id of every
    connected component, drop the rest (the aggressive standard for
    web-scale corpora). The drop set is the duplicate mass — broadcast
    only when a runtime count verifies it fits (``anti_join_ids``)."""
    comps = dup_components(pairs, id_a, id_b, max_iter)
    drop = comps.filter(F.col("doc_id") != F.col("component")).select(
        F.col("doc_id").alias(id_col)
    )
    return anti_join_ids(df, drop, id_col)


# --------------------------------------------- incremental near-dup (daily)
#
# The production ingest shape: the historical corpus is SIGNED ONCE and
# only (id, minhash) survives — ~num_hashes longs per doc instead of the
# text (a 100 TB corpus becomes a ~100 GB signature store). Each new
# batch is signed (CPU ∝ batch, not history), banded, and equi-joined
# against the stored bands; nothing ever re-reads or re-shingles the
# historical text. Verification uses the signature-estimated Jaccard
# (the fraction of agreeing minhashes — the unbiased MinHash estimator),
# which needs no historical text either; callers holding the new batch's
# text can re-verify new-vs-new survivors with jaccard_pairs.


def signature_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    shingle_n: int = 3,
    hash_method: str = "md5",
) -> DataFrame:
    """(id, minhash) — the persistable signature store. Write with
    ``df.write.parquet`` (or bucketed by ``id_col`` via
    storage.write_bucketed); append each ingested batch's signatures so
    tomorrow's batch joins against today's."""
    return minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_n, hash_method
    )


def signature_est_jaccard(sig_a: Column, sig_b: Column) -> Column:
    """Estimated Jaccard = fraction of agreeing minhash components
    (unbiased, stderr ~ 1/sqrt(num_hashes)); pure JVM fold. Deliberately
    NOT unrolled into a static sum of ordinal equalities: the fold runs
    over the primitive long arrays directly, while 2×width getItems + a
    width-term Add tree measured 6.5× SLOWER (2M×32 micro-bench, r14 —
    the opposite of the banding projection, where static unrolling wins
    6.9× because the dynamic form nests lambdas per band)."""
    return F.round(
        F.aggregate(
            F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        / F.size(sig_a).cast("double"),
        6,
    )


def incremental_near_dups(
    new_sigs: DataFrame,
    old_sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    include_new_pairs: bool = True,
) -> DataFrame:
    """Near-duplicate matches for a NEW batch against the signature
    store (and, with ``include_new_pairs``, within the batch itself):
    ``(new_id, matched_id, is_historical, est_jaccard)`` for every LSH
    candidate with estimated Jaccard >= ``threshold``.

    Plan: band-explode both sides, equi-join on (band_no, band_hash) —
    new×old and (optionally) new×new, never old×old, so the shuffle is
    bounded by the BATCH's bucket membership; distinct; one join back to
    each side's signatures for the estimator. AQE skew-join splits hot
    boilerplate buckets. The historical side moves (id, band keys) only."""
    if bands < 1 or bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(
            f"bands must divide num_hashes (got num_hashes={num_hashes}, bands={bands})"
        )
    if not 0.0 <= threshold <= 1.0:
        raise ValueError(f"threshold must be in [0, 1], got {threshold}")
    # A history store signed with a DIFFERENT num_hashes would band-join
    # to nothing and the dedup stage would silently pass every duplicate
    # — verify every row's signature width INSIDE the pipeline. This was
    # two first()-row probes through r6, which were trivial against the
    # fold signing engine (narrow projection → one row evaluated) but
    # became two FULL signing jobs against the agg engine (an
    # aggregation cannot short-circuit for first(); measured ~3× on
    # op_incremental_dedup). The assertion lives in a FILTER condition —
    # a dropped helper column would let Catalyst prune the check away —
    # and costs one codegen comparison per row.
    def _width_checked(sigs: DataFrame, side: str) -> DataFrame:
        chk = F.assert_true(
            F.size("minhash") == num_hashes,
            F.concat(
                F.lit(
                    f"{side} signatures width != num_hashes={num_hashes} "
                    "(stores signed with different parameters would "
                    "silently never match); got "
                ),
                F.size("minhash").cast("string"),
            ),
        )
        return sigs.filter(chk.isNull())

    new_sigs = _width_checked(new_sigs, "new")
    old_sigs = _width_checked(old_sigs, "old")
    bn = minhash_bands(new_sigs, id_col, "minhash", bands, sig_len=num_hashes)
    on = ["band_no", "band_hash"]
    # Join-strategy discipline (r14 opt, replacing the r13 blanket
    # merge pins): no side here may ever BROADCAST (signature/band
    # frames are data-sized aggs whose estimates can land under the
    # broadcast threshold — the SCALE.md r12 OOM class), but the
    # BATCH-derived side is bounded by the ingest batch, so a
    # shuffle_hash hint on IT (hinted side = build side) gives a
    # per-partition hash build ∝ batch/partitions with no sort of the
    # corpus-sized history side — strictly less work than sort-merge
    # and the same no-driver-broadcast safety. The history store is
    # only ever the streamed/probe side.
    #
    # Shape (r14): ONE band join instead of two — the matched side is
    # the tagged union of history bands and (optionally) the batch's
    # own bands, and the pair-direction filter dispatches on the tag.
    # Same candidate set, one fewer shuffle+join stage.
    a = bn.withColumnRenamed(id_col, "new_id").hint("shuffle_hash")
    bu = minhash_bands(
        old_sigs, id_col, "minhash", bands, sig_len=num_hashes
    ).withColumnRenamed(
        id_col, "matched_id"
    ).withColumn("is_historical", F.lit(True))
    if include_new_pairs:
        bu = bu.unionByName(
            bn.withColumnRenamed(id_col, "matched_id").withColumn(
                "is_historical", F.lit(False)
            )
        )
    cands = (
        a.join(bu, on)
        .filter(
            F.when(
                F.col("is_historical"), F.col("new_id") != F.col("matched_id")
            ).otherwise(F.col("new_id") < F.col("matched_id"))
        )
        .select("new_id", "matched_id", "is_historical")
        .distinct()
    )
    sn = new_sigs.select(
        F.col(id_col).alias("new_id"), F.col("minhash").alias("__sig_n")
    )
    # matched-side signatures keyed by (id, side) so an id present in
    # BOTH stores (re-ingest) cannot fan the join out
    so = (
        old_sigs.select(
            F.col(id_col).alias("matched_id"),
            F.lit(True).alias("is_historical"),
            F.col("minhash").alias("__sig_m"),
        )
    ).unionByName(
        new_sigs.select(
            F.col(id_col).alias("matched_id"),
            F.lit(False).alias("is_historical"),
            F.col("minhash").alias("__sig_m"),
        )
    )
    est = signature_est_jaccard(F.col("__sig_n"), F.col("__sig_m"))
    # build side = the candidate/batch-derived left (∝ LSH matches of
    # one batch), never the signature stores
    return (
        cands.hint("shuffle_hash")
        .join(sn, "new_id")
        .hint("shuffle_hash")
        .join(so, ["matched_id", "is_historical"])
        .select(
            "new_id",
            "matched_id",
            "is_historical",
            est.alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )
