"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the part that matters at 100 TB):

* **Exact dedup** — one hash-groupBy on a 60-bit fingerprint of the
  normalized text: shuffle keyed on the hash (uniform by construction,
  no skew), map-side partial aggregation applies.
* **MinHash** — signatures are computed with the higher-order
  ``aggregate`` function over the shingle array: per-row, JVM-side,
  **zero shuffle** (the naive explode→groupBy(doc, seed) formulation
  shuffles |docs|×|shingles|×|seeds| rows; this shuffles nothing).
* **LSH banding** — candidate generation is a self-equi-join on
  ``(band_idx, band_hash)``: Spark executes it as a shuffled hash join
  keyed on the bucket, i.e. only documents sharing a bucket ever meet.
  Hot buckets (boilerplate docs) are the classic skew source — AQE
  skew-join splitting is on, and ``max_bucket_size`` drops degenerate
  buckets (standard practice: a bucket with thousands of entries is
  boilerplate, not near-duplication signal).
* **Verification** — exact Jaccard only on LSH candidates, never all
  pairs.

Every operator has a DuckDB twin built from the same constants so the
correctness oracle checks the real semantics, not a reimplementation.

Reference parity note: the reference has no dedup at all —
``--skip-existing`` is parsed but never enforced (reference
src/cli.rs:46-47, SURVEY.md §2.8). These operators are the north-star
extensions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tinyetl_spark.functions.hashing import MAX60, hash64_col, hash64_sql, hash128_col, hash128_sql
from tinyetl_spark.operators.text import words_col, words_sql

NUM_PERM = 16          # minhash permutations
BANDS = 4              # LSH bands (rows per band = NUM_PERM // BANDS)
SHINGLE_K = 3          # words per shingle
SIM_BITS = 60          # simhash width (60 = our hash width)
SIM_CHUNKS = 4         # simhash LSH: 4 chunks of 15 bits


# ---------------------------------------------------------------- exact

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group by normalized-text fingerprint; keep the min id per group.

    Returns (keep_id, n_dups). One shuffle, keyed on a uniform hash.
    The key is the full 128-bit md5 (see hash128_col) — a 60-bit key
    false-merges distinct docs with ~40% probability at ~1.5e9 rows.
    """
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return (
        df.select(F.col(id_col), hash128_col(norm).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
        .select("keep_id", "n_dups")
    )


def exact_dedup_sql(table: str = "documents", text_col: str = "text", id_col: str = "doc_id") -> str:
    norm = f"regexp_replace(lower(trim({text_col})), '\\s+', ' ', 'g')"
    return f"""
    SELECT min({id_col}) AS keep_id, count(*) AS n_dups
    FROM {table}
    GROUP BY {hash128_sql(norm)}
    """


# -------------------------------------------------------------- minhash

# Universal-hash mixing constants for the minhash permutation family:
# h_i(x) = (A_i * (base & MIX_MASK) + B_i) mod MIX_PRIME. ONE md5 per
# shingle (the base), then num_perm arithmetic mixes — 16x fewer md5
# calls than hashing per-seed, and pure bigint arithmetic that
# evaluates identically in Spark and DuckDB (operands stay < 2^61, so
# no engine-specific overflow behavior is exercised).
MIX_PRIME = (1 << 61) - 1
MIX_MASK = (1 << 30) - 1


def _mix_constants(i: int) -> tuple[int, int]:
    """Deterministic (A_i odd < 2^30, B_i < 2^30) from a fixed LCG."""
    a = (1103515245 * (2 * i + 1) + 12345) & MIX_MASK
    b = (69069 * (i + 1) + 362437) & MIX_MASK
    return a | 1, b


def _word_hashes_col(text_col: str = "text"):
    """One md5 per word — materialize this as its own column BEFORE
    building shingle hashes; referencing the transform expression from
    inside another lambda re-evaluates the whole array per access."""
    return F.transform(words_col(text_col), lambda x: hash64_col(x))


def _shingle_hashes_from(hw_col: str, k: int = SHINGLE_K):
    """Shingle base hashes from a MATERIALIZED word-hash array column:
    combine k consecutive word hashes with position-weighted arithmetic
    — no per-shingle string allocation, md5 count = |words|."""
    hw = F.col(hw_col)
    n = F.size(hw)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    weights = [_mix_constants(100 + j)[0] for j in range(k)]

    def combine(i):
        acc = F.lit(0).cast("bigint")
        for j, a in enumerate(weights):
            term = F.element_at(hw, i + j + 1).bitwiseAND(F.lit(MIX_MASK)) * F.lit(a)
            acc = acc + term
        return acc % F.lit(MIX_PRIME)

    return F.transform(idx, combine)


def _shingle_hashes_sql(text_col: str = "text", k: int = SHINGLE_K) -> str:
    weights = [_mix_constants(100 + j)[0] for j in range(k)]
    terms = " + ".join(
        f"(hw[i + {j + 1}] & {MIX_MASK}) * {a}" for j, a in enumerate(weights)
    )
    return (
        f"list_transform(range(0, greatest(len(hw) - {k}, 0) + 1), "
        f"i -> ({terms}) % {MIX_PRIME})"
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", num_perm: int = NUM_PERM
) -> DataFrame:
    """(id, sig_0..sig_{num_perm-1}) — min over shingle hashes of a
    universal hash family.

    Computed with an ``aggregate`` fold over the shingle-hash array:
    per-row fold in the JVM, zero shuffle, ONE md5 per WORD regardless
    of num_perm or shingle width — scales linearly with corpus size and
    stays cheap at num_perm=128. The word-hash array is a separate
    projection step so it is computed once, not once per element_at.

    The folds build as ``F.expr`` SQL strings rather than Python
    lambdas: each Python HOF lambda crosses py4j several times to
    register its named lambda variables, and at num_perm folds per call
    that was the dominant driver-side cost of every minhash consumer
    (measured r12: 0.8–1.9 s of pure construction vs 0.1–0.4 s via
    expr; the analyzed plans are identical ArrayAggregate expressions
    modulo lambda-variable names).
    """
    hw = df.select(F.col(id_col), _word_hashes_col(text_col).alias("hw"))
    base = hw.select(F.col(id_col), _shingle_hashes_from("hw").alias("hb"))
    sigs = []
    for i in range(num_perm):
        a, b = _mix_constants(i)
        sigs.append(
            F.expr(
                f"aggregate(hb, CAST({MAX60} AS BIGINT), (acc, h) -> "
                f"least(acc, ({a} * (h & {MIX_MASK}) + {b}) % {MIX_PRIME}))"
            ).alias(f"sig_{i}")
        )
    return base.select(F.col(id_col), *sigs)


def minhash_signatures_sql(
    table: str = "documents", text_col: str = "text", id_col: str = "doc_id", num_perm: int = NUM_PERM
) -> str:
    w = words_sql(text_col)
    sig_parts = []
    for i in range(num_perm):
        a, b = _mix_constants(i)
        sig_parts.append(
            f"list_aggregate(list_transform(hb, h -> ({a} * (h & {MIX_MASK}) + {b}) % {MIX_PRIME}), 'min') AS sig_{i}"
        )
    sigs = ",\n           ".join(sig_parts)
    return f"""
    WITH hw_t AS (SELECT {id_col}, list_transform({w}, x -> {hash64_sql('x')}) AS hw FROM {table}),
    hb_t AS (SELECT {id_col}, {_shingle_hashes_sql(text_col)} AS hb FROM hw_t)
    SELECT {id_col},
           {sigs}
    FROM hb_t
    """


def lsh_bands(
    sig_df: DataFrame, id_col: str = "doc_id", num_perm: int = NUM_PERM, bands: int = BANDS
) -> DataFrame:
    """Signature → (id, band_idx, band_hash). narrow (no shuffle)."""
    rows = num_perm // bands
    out = []
    for b in range(bands):
        cols = [F.col(f"sig_{b * rows + r}").cast("string") for r in range(rows)]
        out.append(
            F.struct(F.lit(b).alias("band_idx"), hash64_col(F.concat_ws(",", *cols), seed=1000 + b).alias("band_hash"))
        )
    return (
        sig_df.select(F.col(id_col), F.explode(F.array(*out)).alias("b"))
        .select(id_col, F.col("b.band_idx").alias("band_idx"), F.col("b.band_hash").alias("band_hash"))
    )


def lsh_bands_sql(
    table_sig_cte: str, id_col: str = "doc_id", num_perm: int = NUM_PERM, bands: int = BANDS
) -> str:
    """DuckDB: UNION ALL over bands (table_sig_cte = name of a CTE with sig_* cols)."""
    rows = num_perm // bands
    parts = []
    for b in range(bands):
        concat = " || ',' || ".join(f"CAST(sig_{b * rows + r} AS VARCHAR)" for r in range(rows))
        parts.append(
            f"SELECT {id_col}, {b} AS band_idx, {hash64_sql(f'({concat})', seed=1000 + b)} AS band_hash FROM {table_sig_cte}"
        )
    return "\nUNION ALL\n".join(parts)


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    max_bucket_size: int = 64,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket.

    Self-equi-join on (band_idx, band_hash); buckets larger than
    ``max_bucket_size`` are dropped (boilerplate guard — also the skew
    guard at scale).
    """
    return _candidates_from_sigs(
        minhash_signatures(df, text_col, id_col, num_perm),
        id_col,
        num_perm,
        bands,
        max_bucket_size,
    )


def _candidates_from_sigs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    max_bucket_size: int = 64,
) -> DataFrame:
    """Banding → buckets → in-bucket pairs, off an existing signature
    table — factored so the parameter curve can band ONE signature
    pass three ways."""
    b = lsh_bands(sig_df, id_col, num_perm, bands)
    sized = b.groupBy("band_idx", "band_hash").agg(F.collect_list(id_col).alias("ids"))
    sized = sized.filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket_size))
    # pairs within bucket via self-product on the (small) id arrays
    pairs = sized.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.col("ids"),
                        lambda a: F.transform(F.col("ids"), lambda c: F.struct(a.alias("a"), c.alias("b"))),
                    )
                ),
                lambda p: p["a"] < p["b"],
            )
        ).alias("p")
    )
    return pairs.select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b")).distinct()


def _minhash_candidates_ctes(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    max_bucket_size: int = 64,
) -> str:
    """Shared CTE chain ending in a ``cand(id_a, id_b)`` relation.

    Returns the chain WITHOUT a leading ``WITH`` so callers compose it
    structurally — ``f"WITH {ctes} ..."`` to start a query or
    ``f"WITH other AS (...), {ctes}"`` to append after their own CTEs
    (no textual splicing of the keyword; round-7 ADVICE).

    Pair expansion inside a bucket uses the same list-comprehension
    shape as the Spark side (nested list_transform + filter a<b)."""
    sig = minhash_signatures_sql(table, text_col, id_col, num_perm)
    bands_sql = lsh_bands_sql("sig_t", id_col, num_perm, bands)
    return f"""
    sig_t AS ({sig}),
    bands_t AS ({bands_sql}),
    buckets AS (
      SELECT band_idx, band_hash, list({id_col}) AS ids
      FROM bands_t GROUP BY band_idx, band_hash
      HAVING count(*) > 1 AND count(*) <= {max_bucket_size}),
    cand AS (
      SELECT DISTINCT p[1] AS id_a, p[2] AS id_b
      FROM (SELECT unnest(list_filter(
                     flatten(list_transform(ids, a -> list_transform(ids, c -> [a, c]))),
                     p -> p[1] < p[2])) AS p
            FROM buckets))
    """


def minhash_candidates_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    max_bucket_size: int = 64,
) -> str:
    ctes = _minhash_candidates_ctes(table, text_col, id_col, num_perm, bands, max_bucket_size)
    return f"WITH {ctes}\n    SELECT id_a, id_b FROM cand"


def minhash_jaccard_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.3,
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    max_bucket_size: int = 64,
) -> str:
    """Full pipeline oracle: LSH candidates → exact Jaccard filter."""
    ctes = _minhash_candidates_ctes(table, text_col, id_col, num_perm, bands, max_bucket_size)
    return f"WITH {ctes}" + jaccard_verify_sql("cand", table, text_col, id_col, threshold)


DEDUP_AUDIT_CAP = 300  # docs in the brute-force ground-truth slice


def dedup_recall_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cap: int = DEDUP_AUDIT_CAP,
    threshold: float = 0.3,
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    max_bucket_size: int = 64,
) -> DataFrame:
    """Quality audit of the minhash-LSH candidate generator — the dedup
    twin of the ann_recall_* tier: on a deterministic capped slice
    (id < cap), compute brute-force ground truth (ALL O(cap²) pairs
    with exact word-set Jaccard ≥ threshold), intersect with the LSH
    candidates, and report candidate precision and truth recall. This
    is the number that justifies the band/permutation configuration
    before a 100 TB dedup run.

    The ground truth lives in the SAME similarity space the LSH
    targets — distinct 3-word-shingle sets (word-set Jaccard would
    measure a different, far less discriminative quantity and misread
    the generator). The brute-force pair join is intentionally
    quadratic IN THE SLICE (cap² pairs, one inequality nested-loop
    join) — the cap is the audit's cost knob and the corpus itself is
    touched only by the slice filter at the scan. Counts are exact
    integers; the two ratios are single IEEE double divisions."""
    sl = df.filter(F.col(id_col) < cap)
    wsets = (
        sl.select(F.col(id_col).alias("jid"), _word_hashes_col(text_col).alias("hw"))
        .select("jid", F.array_distinct(_shingle_hashes_from("hw")).alias("ws"))
        .localCheckpoint(eager=False)
    )
    a, b = wsets.alias("a"), wsets.alias("b")
    jacc = F.round(
        F.size(F.array_intersect("a.ws", "b.ws"))
        / F.size(F.array_union("a.ws", "b.ws")).cast("double"),
        6,
    )
    truth = (
        a.join(b, F.col("a.jid") < F.col("b.jid"))
        .select(
            F.col("a.jid").alias("id_a"),
            F.col("b.jid").alias("id_b"),
            jacc.alias("j"),
        )
        .filter(F.col("j") >= threshold)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    cand = minhash_candidates(
        sl, text_col, id_col, num_perm, bands, max_bucket_size
    ).localCheckpoint(eager=False)
    n_true = truth.agg(F.count("*").cast("long").alias("true_pairs"))
    n_cand = cand.agg(F.count("*").cast("long").alias("cand_pairs"))
    n_hit = cand.join(truth, ["id_a", "id_b"]).agg(
        F.count("*").cast("long").alias("hit_pairs")
    )
    return (
        n_true.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_hit))
        .select(
            F.lit(cap).cast("long").alias("cap"),
            "true_pairs",
            "cand_pairs",
            "hit_pairs",
            F.when(
                F.col("cand_pairs") > 0,
                F.col("hit_pairs").cast("double") / F.col("cand_pairs").cast("double"),
            ).otherwise(F.lit(1.0)).alias("precision"),
            F.when(
                F.col("true_pairs") > 0,
                F.col("hit_pairs").cast("double") / F.col("true_pairs").cast("double"),
            ).otherwise(F.lit(1.0)).alias("recall"),
        )
    )


def dedup_recall_audit_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    cap: int = DEDUP_AUDIT_CAP,
    threshold: float = 0.3,
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    max_bucket_size: int = 64,
) -> str:
    w = words_sql(text_col)
    cand_ctes = _minhash_candidates_ctes(
        "slice_docs", text_col, id_col, num_perm, bands, max_bucket_size
    )
    return f"""
    WITH slice_docs AS (SELECT * FROM {table} WHERE {id_col} < {cap}),
    {cand_ctes},
    wsets AS (
      SELECT jid, list_distinct(hb) AS ws
      FROM (SELECT jid, {_shingle_hashes_sql(text_col)} AS hb
            FROM (SELECT {id_col} AS jid,
                         list_transform({w}, x -> {hash64_sql('x')}) AS hw
                  FROM slice_docs))),
    truth AS (
      SELECT a.jid AS id_a, b.jid AS id_b
      FROM wsets a JOIN wsets b ON a.jid < b.jid
      WHERE round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.ws, b.ws))), 6)
            >= {threshold}),
    n_true AS (SELECT CAST(count(*) AS BIGINT) AS true_pairs FROM truth),
    n_cand AS (SELECT CAST(count(*) AS BIGINT) AS cand_pairs FROM cand),
    n_hit AS (
      SELECT CAST(count(*) AS BIGINT) AS hit_pairs
      FROM cand JOIN truth USING (id_a, id_b))
    SELECT CAST({cap} AS BIGINT) AS cap, true_pairs, cand_pairs, hit_pairs,
           CASE WHEN cand_pairs > 0
                THEN CAST(hit_pairs AS DOUBLE) / CAST(cand_pairs AS DOUBLE)
                ELSE 1.0 END AS precision,
           CASE WHEN true_pairs > 0
                THEN CAST(hit_pairs AS DOUBLE) / CAST(true_pairs AS DOUBLE)
                ELSE 1.0 END AS recall
    FROM n_true CROSS JOIN n_cand CROSS JOIN n_hit
    """


def _containment_truth_pairs(gsets: DataFrame, threshold: float) -> DataFrame:
    """Brute-force containment ground truth over the cap-bounded slice
    in ONE Arrow task (the audit-cap contract makes a single task the
    right shape — same precedent as the perceptual audits' pixel-truth
    kernel): all O(cap^2) pairwise distinct-gram intersection counts
    come from one 0/1 gram-incidence matrix product in numpy (float32
    matmul of 0/1 values — every partial sum is a small exact integer,
    far inside float32's 2^24 exact-integer range), replacing the JVM
    nested-loop join whose per-pair array_intersect rebuilt a string
    hash set cap times per document.

    Exactness of the threshold compare: Spark's round(x, 6) on DOUBLE
    is BigDecimal.valueOf(x).setScale(6, HALF_UP) — valueOf goes
    through Double.toString's shortest round-trip representation,
    which is exactly Python's repr(float) — so the boundary pairs are
    re-checked with Decimal(repr(x)) HALF_UP quantization; pairs whose
    raw max-ratio sits farther than 1e-5 from the threshold cannot be
    moved across it by 6dp rounding (|round(x,6)-x| <= 5e-7) and are
    decided directly."""

    def run(batches):
        import numpy as np
        import pandas as pd
        from decimal import ROUND_HALF_UP, Decimal

        empty = pd.DataFrame(
            {
                "id_a": pd.Series(dtype="int64"),
                "id_b": pd.Series(dtype="int64"),
                "is_excerpt": pd.Series(dtype="bool"),
            }
        )
        pdfs = list(batches)
        if not pdfs:
            yield empty
            return
        pdf = pd.concat(pdfs, ignore_index=True).sort_values("jid")
        ids = pdf["jid"].to_numpy(dtype=np.int64)
        sets = pdf["gs"].tolist()
        n = len(ids)
        if n < 2:
            yield empty
            return
        vocab: dict = {}
        ri: list[int] = []
        ci: list[int] = []
        for i, gs in enumerate(sets):
            for g in gs:
                ci.append(vocab.setdefault(g, len(vocab)))
                ri.append(i)
        m = np.zeros((n, len(vocab)), dtype=np.float32)
        m[np.array(ri), np.array(ci)] = 1.0
        inter = (m @ m.T).astype(np.int64)  # exact distinct-gram counts
        sizes = m.sum(axis=1).astype(np.int64)
        iu, ju = np.triu_indices(n, 1)
        it = inter[iu, ju].astype(np.float64)
        ra = it / sizes[iu].astype(np.float64)
        rb = it / sizes[ju].astype(np.float64)
        raw = np.maximum(ra, rb)
        t = float(threshold)
        keep = raw >= t - 1e-5
        boundary = keep & (raw < t + 1e-5)

        def r6(x: float) -> float:
            return float(
                Decimal(repr(x)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )

        for idx in np.flatnonzero(boundary):
            if max(r6(float(ra[idx])), r6(float(rb[idx]))) < t:
                keep[idx] = False
        sel = np.flatnonzero(keep)
        i_s, j_s = iu[sel], ju[sel]
        lo = np.minimum(sizes[i_s], sizes[j_s])
        hi = np.maximum(sizes[i_s], sizes[j_s])
        yield pd.DataFrame(
            {
                "id_a": ids[i_s],
                "id_b": ids[j_s],
                "is_excerpt": (2 * lo <= hi),
            }
        )

    return gsets.coalesce(1).mapInPandas(
        run, schema="id_a long, id_b long, is_excerpt boolean"
    )


def containment_recall_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cap: int = DEDUP_AUDIT_CAP,
    threshold: float = 0.8,
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    num_probes: int = 4,
    mod: int = 4,
    max_bucket_size: int = 64,
) -> DataFrame:
    """Containment twin of ``dedup_recall_audit``: on the same capped
    slice (id < cap), ground truth is ALL O(cap²) pairs whose exact
    char-n-gram containment (either direction) clears ``threshold`` —
    the verify stage's own metric — intersected with the UNION
    candidate generator (Jaccard-LSH ∪ asymmetric probes). This is the
    number that proves the round-8 recall-bias fix: the Jaccard-only
    generator structurally misses near-zero-Jaccard short-in-long
    pairs; the union generator's recall here is the evidence it no
    longer does. True pairs are additionally CLASSED by gram-set size
    ratio — ``2 * min(|A|,|B|) <= max(|A|,|B|)`` marks the
    short-in-long (excerpt) class, the pairs the asymmetric probe
    generator exists for — and the audit reports that class's recall
    as a standing measured number (``excerpt_recall``; 1.0 vacuously
    when the slice holds no excerpt-class true pair). Quadratic only
    in the slice (the audit's cost knob); exact integer counts and
    class flags; three IEEE divisions. The truth pass runs as one
    cap-bounded Arrow kernel (:func:`_containment_truth_pairs` — r12:
    4.2x over the JVM nested-loop + per-pair array_intersect form,
    value-identical including the 6dp HALF_UP boundary behavior)."""
    sl = df.filter(F.col(id_col) < cap)
    gsets = (
        sl.select(F.col(id_col).alias("jid"), norm_text_col(text_col).alias("_nt"))
        .select("jid", _char_ngrams_from("_nt").alias("gs"))
        .localCheckpoint(eager=False)
    )
    truth = _containment_truth_pairs(gsets, threshold).localCheckpoint(
        eager=False
    )
    cand = containment_union_candidates(
        sl, text_col, id_col, num_perm, bands, num_probes, mod, max_bucket_size
    ).localCheckpoint(eager=False)
    exc = F.when(F.col("is_excerpt"), F.lit(1)).otherwise(F.lit(0))
    n_true = truth.agg(
        F.count("*").cast("long").alias("true_pairs"),
        F.coalesce(F.sum(exc), F.lit(0)).cast("long").alias("excerpt_true"),
    )
    n_cand = cand.agg(F.count("*").cast("long").alias("cand_pairs"))
    n_hit = cand.join(truth, ["id_a", "id_b"]).agg(
        F.count("*").cast("long").alias("hit_pairs"),
        F.coalesce(F.sum(exc), F.lit(0)).cast("long").alias("excerpt_hits"),
    )
    return (
        n_true.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_hit))
        .select(
            F.lit(cap).cast("long").alias("cap"),
            "true_pairs",
            "cand_pairs",
            "hit_pairs",
            F.when(
                F.col("cand_pairs") > 0,
                F.col("hit_pairs").cast("double") / F.col("cand_pairs").cast("double"),
            ).otherwise(F.lit(1.0)).alias("precision"),
            F.when(
                F.col("true_pairs") > 0,
                F.col("hit_pairs").cast("double") / F.col("true_pairs").cast("double"),
            ).otherwise(F.lit(1.0)).alias("recall"),
            "excerpt_true",
            "excerpt_hits",
            F.when(
                F.col("excerpt_true") > 0,
                F.col("excerpt_hits").cast("double")
                / F.col("excerpt_true").cast("double"),
            ).otherwise(F.lit(1.0)).alias("excerpt_recall"),
        )
    )


def containment_recall_audit_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    cap: int = DEDUP_AUDIT_CAP,
    threshold: float = 0.8,
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    num_probes: int = 4,
    mod: int = 4,
    max_bucket_size: int = 64,
) -> str:
    cand_ctes = _containment_union_ctes(
        "slice_docs", text_col, id_col, num_perm, bands, num_probes, mod, max_bucket_size
    )
    g = char_ngrams_sql(text_col)
    return f"""
    WITH slice_docs AS (SELECT * FROM {table} WHERE {id_col} < {cap}),
    {cand_ctes},
    gsets AS (SELECT {id_col} AS jid, {g} AS gs FROM slice_docs),
    truth AS (
      SELECT id_a, id_b, is_excerpt FROM (
        SELECT a.jid AS id_a, b.jid AS id_b,
               greatest(
                 round(CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
                       / len(a.gs), 6),
                 round(CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
                       / len(b.gs), 6)) AS c,
               2 * least(len(a.gs), len(b.gs))
                 <= greatest(len(a.gs), len(b.gs)) AS is_excerpt
        FROM gsets a JOIN gsets b ON a.jid < b.jid)
      WHERE c >= {threshold}),
    n_true AS (
      SELECT CAST(count(*) AS BIGINT) AS true_pairs,
             CAST(coalesce(sum(CASE WHEN is_excerpt THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS excerpt_true
      FROM truth),
    n_cand AS (SELECT CAST(count(*) AS BIGINT) AS cand_pairs FROM allcand),
    n_hit AS (
      SELECT CAST(count(*) AS BIGINT) AS hit_pairs,
             CAST(coalesce(sum(CASE WHEN is_excerpt THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS excerpt_hits
      FROM allcand JOIN truth USING (id_a, id_b))
    SELECT CAST({cap} AS BIGINT) AS cap, true_pairs, cand_pairs, hit_pairs,
           CASE WHEN cand_pairs > 0
                THEN CAST(hit_pairs AS DOUBLE) / CAST(cand_pairs AS DOUBLE)
                ELSE 1.0 END AS precision,
           CASE WHEN true_pairs > 0
                THEN CAST(hit_pairs AS DOUBLE) / CAST(true_pairs AS DOUBLE)
                ELSE 1.0 END AS recall,
           excerpt_true, excerpt_hits,
           CASE WHEN excerpt_true > 0
                THEN CAST(excerpt_hits AS DOUBLE) / CAST(excerpt_true AS DOUBLE)
                ELSE 1.0 END AS excerpt_recall
    FROM n_true CROSS JOIN n_cand CROSS JOIN n_hit
    """


# --------------------------------------------------- char n-gram jaccard

NGRAM_K = 5  # character n-gram width


def _char_ngrams_from(norm_col: str, k: int = NGRAM_K):
    """Distinct character k-grams from a MATERIALIZED normalized-text
    column, via ONE regex pass with a zero-width lookahead (every match
    position captures the next k chars). The per-index substring
    formulation is ~3x slower: UTF-8 substring is O(position), so n
    substring calls cost O(n^2) per document. (?s) because the capture
    must cross nothing — normalization already collapsed newlines.
    Texts shorter than k yield the whole text as their single gram
    (substring semantics, mirrored by the SQL twin)."""
    norm = F.col(norm_col)
    grams = F.regexp_extract_all(norm, F.lit(f"(?s)(?=(.{{{k}}}))"), 1)
    return F.array_distinct(
        F.when(F.length(norm) < k, F.array(norm)).otherwise(grams)
    )


def norm_text_col(text_col="text"):
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def char_ngrams_sql(text_col: str = "text", k: int = NGRAM_K) -> str:
    norm = f"regexp_replace(lower(trim({text_col})), '\\s+', ' ', 'g')"
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(length({norm}) - {k} + 1, 1) + 1), "
        f"i -> substring({norm}, i, {k})))"
    )


def ngram_jaccard(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = NGRAM_K,
    stage_path: str | None = None,
) -> DataFrame:
    """Character n-gram Jaccard on candidate pairs (finer-grained than
    word-set Jaccard — robust to tokenization differences). Same
    verify shape as ``jaccard_verify``: the k-gram explosion (~|text|
    substrings + distinct) is computed once per INVOLVED doc — docs are
    semi-joined to the candidate id set first, and the normalized text
    materializes in its own projection before the substring lambda
    (inlined, the lambda re-evaluates it per element — ~600x)."""
    if stage_path is not None:
        # persist the LSH candidate pairs themselves: the verify stage
        # (and any retry of it) then starts from a parquet scan instead
        # of re-running the signature+banding pass
        candidates = _stage(candidates, stage_path, "ngram_candidates")
    ids = _candidate_ids(candidates)
    # joined twice below — materialize so the k-gram explosion runs
    # once per involved doc, not once per join side (parquet stage when
    # stage_path is set; lazy localCheckpoint otherwise)
    gsets = _stage(
        df.join(ids, df[id_col] == ids._cid, "left_semi")
        .select(F.col(id_col).alias("jid"), norm_text_col(text_col).alias("_nt"))
        .select("jid", _char_ngrams_from("_nt", k).alias("gs")),
        stage_path,
        "ngram_sets",
    )
    # numeric stats behind a barrier: without it Catalyst pushes the
    # threshold filter into the join condition and re-inlines the
    # intersect/union of ~300-gram arrays at every reference (4 array
    # ops per pair instead of 2 — measured 3x the verify wall at sf1)
    stats = _stage(
        candidates.join(
            gsets.withColumnRenamed("jid", "id_a").withColumnRenamed("gs", "gs_a"), "id_a"
        )
        .join(gsets.withColumnRenamed("jid", "id_b").withColumnRenamed("gs", "gs_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("gs_a", "gs_b")).alias("_i"),
            F.size(F.array_union("gs_a", "gs_b")).cast("double").alias("_u"),
        ),
        stage_path,
        "ngram_stats",
    )
    j = stats.select(
        "id_a",
        "id_b",
        F.round(F.col("_i") / F.col("_u"), 6).alias("ngram_jaccard"),
    )
    return j.filter(F.col("ngram_jaccard") >= threshold).select("id_a", "id_b", "ngram_jaccard")


def ngram_jaccard_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = NGRAM_K,
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    max_bucket_size: int = 64,
) -> str:
    """Full-pipeline oracle: minhash-LSH candidates → char-ngram verify."""
    ctes = _minhash_candidates_ctes(table, text_col, id_col, num_perm, bands, max_bucket_size)
    g = char_ngrams_sql(text_col, k)
    return f"""WITH {ctes}
    , gsets AS (SELECT {id_col} AS jid, {g} AS gs FROM {table})
    SELECT c.id_a, c.id_b,
           round(CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE)
                 / len(list_distinct(list_concat(ga.gs, gb.gs))), 6) AS ngram_jaccard
    FROM cand c
    JOIN gsets ga ON ga.jid = c.id_a
    JOIN gsets gb ON gb.jid = c.id_b
    WHERE round(CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE)
                / len(list_distinct(list_concat(ga.gs, gb.gs))), 6) >= {threshold}
    """



def ngram_containment(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = NGRAM_K,
    stage_path: str | None = None,
) -> DataFrame:
    """Asymmetric character n-gram CONTAINMENT on candidate pairs
    (Broder 1997, "On the resemblance and containment of documents"):
    C(A,B) = |S(A) ∩ S(B)| / |S(A)|. Jaccard misses the quote/subset
    case — a short doc fully embedded in a long one has tiny Jaccard
    (union is dominated by the long doc) but containment ≈ 1 from the
    short side — which is exactly the boilerplate-inclusion /
    quoted-reuse duplication a training-data pipeline must catch.
    Emits a pair when EITHER direction clears ``threshold``; reports
    both directions so the caller can see which side is the subset.

    Same verify shape as ``ngram_jaccard``: LSH candidates bound the
    pair set, involved docs are semi-joined before the k-gram
    explosion, and the gram sets materialize once per involved doc.
    Each containment is one IEEE division of exact set sizes (round 6,
    engine-exact)."""
    if stage_path is not None:
        candidates = _stage(candidates, stage_path, "containment_candidates")
    ids = _candidate_ids(candidates)
    gsets = _stage(
        df.join(ids, df[id_col] == ids._cid, "left_semi")
        .select(F.col(id_col).alias("jid"), norm_text_col(text_col).alias("_nt"))
        .select("jid", _char_ngrams_from("_nt", k).alias("gs")),
        stage_path,
        "containment_sets",
    )
    # Evaluate the expensive set math ONCE per pair: without a barrier
    # Catalyst pushes the threshold filter INTO the join condition and
    # re-inlines array_intersect at every reference (2x in the pushed
    # greatest(...) condition + 2x in the projection = 4 intersects of
    # ~300-gram arrays per pair — measured 3x the whole verify wall at
    # sf1). Projecting the three NUMBERS and cutting lineage leaves one
    # intersect per pair and a ~40-byte row behind the barrier.
    stats = _stage(
        candidates.join(
            gsets.withColumnRenamed("jid", "id_a").withColumnRenamed("gs", "gs_a"), "id_a"
        )
        .join(gsets.withColumnRenamed("jid", "id_b").withColumnRenamed("gs", "gs_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("gs_a", "gs_b")).cast("double").alias("_i"),
            F.size("gs_a").alias("_na"),
            F.size("gs_b").alias("_nb"),
        ),
        stage_path,
        "containment_stats",
    )
    j = stats.select(
        "id_a",
        "id_b",
        F.round(F.col("_i") / F.col("_na"), 6).alias("cont_a_in_b"),
        F.round(F.col("_i") / F.col("_nb"), 6).alias("cont_b_in_a"),
    )
    return j.filter(
        F.greatest("cont_a_in_b", "cont_b_in_a") >= threshold
    ).select("id_a", "id_b", "cont_a_in_b", "cont_b_in_a")


def ngram_containment_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = NGRAM_K,
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    max_bucket_size: int = 64,
) -> str:
    """Full-pipeline oracle: minhash-LSH candidates → containment verify."""
    ctes = _minhash_candidates_ctes(table, text_col, id_col, num_perm, bands, max_bucket_size)
    g = char_ngrams_sql(text_col, k)
    return f"""WITH {ctes}
    , gsets AS (SELECT {id_col} AS jid, {g} AS gs FROM {table})
    SELECT id_a, id_b, cont_a_in_b, cont_b_in_a FROM (
      SELECT c.id_a, c.id_b,
             round(CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE)
                   / len(ga.gs), 6) AS cont_a_in_b,
             round(CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE)
                   / len(gb.gs), 6) AS cont_b_in_a
      FROM cand c
      JOIN gsets ga ON ga.jid = c.id_a
      JOIN gsets gb ON gb.jid = c.id_b)
    WHERE greatest(cont_a_in_b, cont_b_in_a) >= {threshold}
    """


# ------------------------------- asymmetric containment candidates
#
# The Jaccard-LSH band join above CANNOT surface the pair class the
# containment verify exists for: a short doc embedded verbatim in a
# long one has Jaccard ~ |short|/|long| ~ 0.05, and band-collision
# probability at J is 1-(1-J^4)^4 ~ 4J^4 ~ 2.5e-5 — the generator
# filters out essentially all of the target class (round-8 VERDICT
# "What's wrong #1"). Containment needs an ASYMMETRIC generator.
#
# Design (a containment-join prefix filter in the PPJoin/Broder
# tradition, not another symmetric-minhash variant): sample the
# shingle-hash UNIVERSE (keep hashes ≡ 0 mod ``mod``), build an
# inverted index (hash → docs) over each doc's sampled shingles, and
# probe it with the ``num_probes`` smallest sampled hashes of every
# doc. If short ⊆ long verbatim, every sampled shingle of the short
# doc is also a sampled shingle of the long doc — the short side's
# probes ALWAYS land in the long side's postings: recall is exact
# (1.0) for verbatim containment whenever the short doc has ≥1
# sampled shingle (miss probability (1-1/mod)^m for an m-shingle doc;
# <1e-3 at mod=4, m≥25), and degrades gracefully to
# 1-(1-C)^num_probes for near-verbatim shingle-containment C.
#
# Scale shape: the index emits |distinct shingles|/mod rows per doc —
# the same corpus-token-granularity shuffle as the BM25 posting-list
# build (operators/text.py), keyed on a uniform hash; the probe side
# is ≤ num_probes rows per doc. Hot hashes (boilerplate shingles) are
# dropped by the same ``max_bucket_size`` cap as the Jaccard buckets.

CONTAIN_MOD = 4     # shingle-universe sample: keep hashes ≡ 0 (mod 4)
CONTAIN_PROBES = 4  # bottom-k sampled hashes probed per doc
# a candidate pair must share min(CONTAIN_MIN_HITS, probe-side key
# count) probe hashes: ONE shared 3-word shingle is weak evidence and
# floods the verify with random collisions (measured 5x verify cost at
# sf0.1); TWO cuts the collision rate quadratically while the exact
# verbatim-containment recall guarantee is unchanged — a contained doc
# matches on ALL its sampled keys, and the threshold adapts down to 1
# for docs that only have one key
CONTAIN_MIN_HITS = 2


def _containment_keys(
    df: DataFrame, text_col: str, id_col: str, mod: int
) -> DataFrame:
    """(id, keys) — each doc's distinct sampled shingle hashes; docs
    whose sample is empty fall back to their single minimum shingle
    hash so very short docs still index and probe (their recall
    guarantee weakens to that one hash — documented above)."""
    hw = df.select(F.col(id_col), _word_hashes_col(text_col).alias("hw"))
    hb = hw.select(F.col(id_col), _shingle_hashes_from("hw").alias("hb"))
    sampled = F.array_distinct(
        F.filter(F.col("hb"), lambda h: h % F.lit(mod) == F.lit(0))
    )
    keys = F.when(F.size(sampled) == 0, F.array(F.array_min("hb"))).otherwise(sampled)
    return hb.select(F.col(id_col), keys.alias("keys"))


def containment_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_probes: int = CONTAIN_PROBES,
    mod: int = CONTAIN_MOD,
    max_bucket_size: int = 64,
) -> DataFrame:
    """Asymmetric containment candidate pairs (id_a < id_b): doc X's
    bottom-``num_probes`` sampled shingle hashes probed against an
    inverted index of every doc's sampled shingles; a pair qualifies
    when min(CONTAIN_MIN_HITS, probe-key count) probe hashes match.
    One bucket-keyed shuffle; postings larger than ``max_bucket_size``
    dropped (skew cap, same knob as the Jaccard buckets)."""
    # keys feed both the index and the probe sides — materialize so the
    # md5+shingle pass runs once, not once per consumer subtree
    keys = _containment_keys(df, text_col, id_col, mod).localCheckpoint(eager=False)
    idx = keys.select(F.col(id_col).alias("iid"), F.explode("keys").alias("h"))
    # skew cap BEFORE the probe join (a boilerplate shingle would
    # otherwise fan out every probe that hits it); the count join is
    # same-key and AQE co-partitions it with the posting shuffle
    ok = (
        idx.groupBy("h")
        .count()
        .filter((F.col("count") >= 2) & (F.col("count") <= max_bucket_size))
        .select("h")
    )
    probes = keys.select(
        F.col(id_col).alias("pid"),
        F.least(F.lit(num_probes), F.size("keys")).alias("nk"),
        F.explode(F.slice(F.array_sort("keys"), 1, num_probes)).alias("h"),
    )
    hits = (
        probes.join(idx.join(ok, "h"), "h")
        .filter(F.col("iid") != F.col("pid"))
        .groupBy("pid", "iid")
        .agg(F.count("*").alias("nh"), F.min("nk").alias("nk"))
        .filter(F.col("nh") >= F.least(F.lit(CONTAIN_MIN_HITS), F.col("nk")))
    )
    return (
        hits.select(
            F.least("pid", "iid").alias("id_a"),
            F.greatest("pid", "iid").alias("id_b"),
        )
        .distinct()
    )


def _containment_candidates_ctes(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_probes: int = CONTAIN_PROBES,
    mod: int = CONTAIN_MOD,
    max_bucket_size: int = 64,
) -> str:
    """CTE chain (no leading WITH) ending in ``ccand(id_a, id_b)``.

    CTE names are c_-prefixed so the chain composes with
    ``_minhash_candidates_ctes`` in one WITH clause."""
    w = words_sql(text_col)
    return f"""
    c_hb AS (SELECT {id_col}, {_shingle_hashes_sql(text_col)} AS hb
             FROM (SELECT {id_col},
                          list_transform({w}, x -> {hash64_sql('x')}) AS hw
                   FROM {table})),
    c_keys AS (
      SELECT {id_col},
             CASE WHEN len(sampled) = 0
                  THEN [list_aggregate(hb, 'min')] ELSE sampled END AS keys
      FROM (SELECT {id_col}, hb,
                   list_distinct(list_filter(hb, h -> h % {mod} = 0)) AS sampled
            FROM c_hb)),
    c_idx AS (SELECT {id_col} AS iid, unnest(keys) AS h FROM c_keys),
    c_ok AS (
      SELECT h FROM c_idx GROUP BY h
      HAVING count(*) >= 2 AND count(*) <= {max_bucket_size}),
    c_probes AS (
      SELECT {id_col} AS pid,
             least({num_probes}, len(keys)) AS nk,
             unnest(list_slice(list_sort(keys), 1, {num_probes})) AS h
      FROM c_keys),
    ccand AS (
      SELECT DISTINCT least(pid, iid) AS id_a, greatest(pid, iid) AS id_b
      FROM (SELECT p.pid, i.iid, count(*) AS nh, min(p.nk) AS nk
            FROM c_probes p
            JOIN c_ok o ON o.h = p.h
            JOIN c_idx i ON i.h = p.h AND i.iid <> p.pid
            GROUP BY p.pid, i.iid)
      WHERE nh >= least({CONTAIN_MIN_HITS}, nk))
    """


def containment_union_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    num_probes: int = CONTAIN_PROBES,
    mod: int = CONTAIN_MOD,
    max_bucket_size: int = 64,
) -> DataFrame:
    """Jaccard-LSH candidates ∪ asymmetric containment candidates —
    the complete candidate set for the containment verify (high-Jaccard
    near-dups AND near-zero-Jaccard short-in-long pairs)."""
    jc = minhash_candidates(df, text_col, id_col, num_perm, bands, max_bucket_size)
    cc = containment_candidates(df, text_col, id_col, num_probes, mod, max_bucket_size)
    return jc.unionByName(cc).distinct()


def _containment_union_ctes(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    num_probes: int = CONTAIN_PROBES,
    mod: int = CONTAIN_MOD,
    max_bucket_size: int = 64,
) -> str:
    """Chain ending in ``allcand(id_a, id_b)`` = cand ∪ ccand."""
    jc = _minhash_candidates_ctes(table, text_col, id_col, num_perm, bands, max_bucket_size)
    cc = _containment_candidates_ctes(table, text_col, id_col, num_probes, mod, max_bucket_size)
    return f"""{jc},
    {cc},
    allcand AS (SELECT id_a, id_b FROM cand UNION SELECT id_a, id_b FROM ccand)
    """


def ngram_containment_full_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = NGRAM_K,
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    num_probes: int = CONTAIN_PROBES,
    mod: int = CONTAIN_MOD,
    max_bucket_size: int = 64,
) -> str:
    """Full-pipeline oracle: (Jaccard-LSH ∪ asymmetric containment)
    candidates → containment verify."""
    ctes = _containment_union_ctes(
        table, text_col, id_col, num_perm, bands, num_probes, mod, max_bucket_size
    )
    g = char_ngrams_sql(text_col, k)
    return f"""WITH {ctes}
    , gsets AS (SELECT {id_col} AS jid, {g} AS gs FROM {table})
    SELECT id_a, id_b, cont_a_in_b, cont_b_in_a FROM (
      SELECT c.id_a, c.id_b,
             round(CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE)
                   / len(ga.gs), 6) AS cont_a_in_b,
             round(CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE)
                   / len(gb.gs), 6) AS cont_b_in_a
      FROM allcand c
      JOIN gsets ga ON ga.jid = c.id_a
      JOIN gsets gb ON gb.jid = c.id_b)
    WHERE greatest(cont_a_in_b, cont_b_in_a) >= {threshold}
    """


# ----------------------------------------------------- jaccard (verify)

def _stage(df: DataFrame, stage_path: str | None, name: str) -> DataFrame:
    """Materialization point between the LSH-candidate stage and the
    verify stage. ``stage_path=None`` (default, local/test profile) cuts
    lineage with a lazy ``localCheckpoint`` — enough to stop Catalyst
    re-deriving the set-build per join side. With a path, the stage is
    written to parquet and re-scanned: the cluster-real shape, where a
    multi-hour verify can retry/resume from the persisted candidates
    instead of recomputing the signature pass (and the set table gets
    column stats + splittable scan parallelism for free)."""
    if stage_path is None:
        return df.localCheckpoint(eager=False)
    p = os.path.join(stage_path, name)
    df.write.mode("overwrite").parquet(p)
    return df.sparkSession.read.parquet(p)


def _candidate_ids(candidates: DataFrame) -> DataFrame:
    """Distinct doc ids appearing on either side of the pair table —
    the semi-join prefilter for verify stages."""
    return (
        candidates.select(F.col("id_a").alias("_cid"))
        .unionByName(candidates.select(F.col("id_b").alias("_cid")))
        .distinct()
    )


def jaccard_verify(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    stage_path: str | None = None,
) -> DataFrame:
    """Exact word-set Jaccard on candidate pairs; keep >= threshold.

    The word-set projection is computed ONCE PER INVOLVED DOC: docs are
    first semi-joined to the candidate id set, then split/deduped, then
    the pair table joins the sets in. Per-doc beats per-pair-side (a
    doc in p pairs would split p times), and the semi-join prefilter
    means a corpus where candidates touch 0.1% of docs only pays sets
    for that 0.1% — at 100 TB that is the difference between a verify
    stage sized by |candidates| and one sized by |corpus|.
    """
    if stage_path is not None:
        # persist the LSH candidate pairs themselves: verify (and any
        # retry) starts from a parquet scan, not a recomputed LSH pass
        candidates = _stage(candidates, stage_path, "jaccard_candidates")
    ids = _candidate_ids(candidates)
    # the set table is joined twice (a-side, b-side) and exchange reuse
    # does not apply across those subtrees — materialize so the sets
    # compute once (size bounded: involved docs only); parquet stage
    # when stage_path is set, lazy localCheckpoint otherwise
    wsets = _stage(
        df.join(ids, df[id_col] == ids._cid, "left_semi")
        .select(
            F.col(id_col).alias("jid"), F.array_distinct(words_col(text_col)).alias("ws")
        ),
        stage_path,
        "word_sets",
    )
    # numeric stats behind a barrier — same rationale as ngram_jaccard:
    # keep the set ops at ONE evaluation per pair instead of letting the
    # pushed threshold filter re-inline them into the join condition
    stats = _stage(
        candidates.join(wsets.withColumnRenamed("jid", "id_a").withColumnRenamed("ws", "ws_a"), "id_a")
        .join(wsets.withColumnRenamed("jid", "id_b").withColumnRenamed("ws", "ws_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("ws_a", "ws_b")).alias("_i"),
            F.size(F.array_union("ws_a", "ws_b")).cast("double").alias("_u"),
        ),
        stage_path,
        "jaccard_stats",
    )
    j = stats.select(
        "id_a",
        "id_b",
        F.round(F.col("_i") / F.col("_u"), 6).alias("jaccard"),
    )
    return j.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def _jaccard_pairs_ctes(
    candidates_cte: str,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """CTE fragment (leading comma): wsets + pairj(id_a, id_b, jaccard)
    — the ONE definition of the exact word-set-Jaccard verify metric,
    shared by the verify filter and the threshold curve so the two can
    never silently measure different quantities."""
    w = words_sql(text_col)
    return f"""
    , wsets AS (SELECT {id_col} AS jid, list_distinct({w}) AS ws FROM {table}),
    pairj AS (
      SELECT c.id_a, c.id_b,
             round(CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
                   / len(list_distinct(list_concat(wa.ws, wb.ws))), 6) AS jaccard
      FROM {candidates_cte} c
      JOIN wsets wa ON wa.jid = c.id_a
      JOIN wsets wb ON wb.jid = c.id_b)"""


def jaccard_verify_sql(
    candidates_cte: str,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> str:
    return (
        _jaccard_pairs_ctes(candidates_cte, table, text_col, id_col)
        + f"""
    SELECT id_a, id_b, jaccard FROM pairj WHERE jaccard >= {threshold}
    """
    )


# -------------------------------------------------------------- simhash

_SIM_LANE_BITS = 16                     # counter width inside an accumulator
_SIM_LANES = 4                          # counters per 64-bit accumulator
_SIM_NACC = SIM_BITS // _SIM_LANES      # 15 packed accumulators
_SIM_LANE_MASK = (1 << _SIM_LANE_BITS) - 1


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash over word frequencies.

    Per-row fold (``aggregate`` over the word-hash array) with SWAR-
    packed counters: 4 x 16-bit bit-counters per bigint accumulator, 15
    accumulators for 60 bits. Compared to the naive 60-long counter
    array + zip_with, this allocates NOTHING per word and keeps the
    generated code ~4x smaller (the old shape was flagged for codegen
    compile pressure). Zero shuffle; one md5 per word. Lane counters
    saturate at 65,535 words per document — chunk longer docs upstream.
    Bit b of the result is set iff words with bit b set form a strict
    majority (ties -> 0, same as the +1/-1 sum formulation).
    """
    hw = df.select(F.col(id_col), _word_hashes_col(text_col).alias("hw"))
    zero = F.struct(
        *[F.lit(0).cast("long").alias(f"a{i}") for i in range(_SIM_NACC)]
    )

    # multiply-spread: placing a 4-bit nibble at offsets 0/15/30/45 puts
    # its bit j at position 16j (j + 15j), i.e. each lane's LSB — one
    # multiply + mask replaces 4x(shift,mask,shift). Copies don't
    # overlap (4-bit nibble, 15-bit stride), so no carries.
    spread_mul = F.lit(1 | (1 << 15) | (1 << 30) | (1 << 45))
    lane_lsb = F.lit(0x0001000100010001)

    def step(acc, h):
        fields = []
        for i in range(_SIM_NACC):
            nib = F.shiftright(h, i * _SIM_LANES).bitwiseAND(F.lit(15))
            s = (nib * spread_mul).bitwiseAND(lane_lsb)
            fields.append((acc[f"a{i}"] + s).alias(f"a{i}"))
        return F.struct(*fields)

    base = hw.select(
        F.col(id_col),
        F.aggregate(F.col("hw"), zero, step).alias("c"),
        F.size("hw").alias("n"),
    )
    sim = F.lit(0).cast("long")
    for b in range(SIM_BITS):
        i, j = divmod(b, _SIM_LANES)
        cb = F.shiftright(F.col("c")[f"a{i}"], _SIM_LANE_BITS * j).bitwiseAND(
            F.lit(_SIM_LANE_MASK)
        )
        sim = sim + F.when(cb * 2 > F.col("n"), F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return base.select(F.col(id_col), sim.alias("simhash"))


def simhash_sql(table: str = "documents", text_col: str = "text", id_col: str = "doc_id") -> str:
    w = words_sql(text_col)
    bit_sums = ",\n             ".join(
        f"sum(CASE WHEN (hw >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS c{b}" for b in range(SIM_BITS)
    )
    combine = " + ".join(f"(CASE WHEN c{b} > 0 THEN (1::BIGINT << {b}) ELSE 0 END)" for b in range(SIM_BITS))
    return f"""
    WITH words_t AS (SELECT {id_col}, unnest({w}) AS word FROM {table}),
    h AS (SELECT {id_col}, {hash64_sql('word')} AS hw FROM words_t),
    bits AS (SELECT {id_col}, {bit_sums} FROM h GROUP BY {id_col})
    SELECT {id_col}, {combine} AS simhash FROM bits
    """


def _sim_chunk_bounds(max_hamming: int) -> list[tuple[int, int]]:
    """(start_bit, width) per LSH chunk. Pigeonhole: a pair within
    hamming distance h must agree on >= 1 of h+1 disjoint chunks, so the
    chunk count adapts to the requested radius — full recall at any
    ``max_hamming`` (the old fixed-4-chunk scheme silently dropped pairs
    at distance 4..8). Wider radii mean narrower chunks → more bucket
    collisions; the bucket-size cap below is what keeps that safe."""
    n = max(SIM_CHUNKS, max_hamming + 1)
    base, rem = divmod(SIM_BITS, n)
    bounds, start = [], 0
    for i in range(n):
        width = base + (1 if i < rem else 0)
        bounds.append((start, width))
        start += width
    return bounds


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int = 64,
) -> DataFrame:
    """Near-dup pairs by SimHash: LSH on max_hamming+1 disjoint bit
    chunks (pigeonhole ⇒ full recall), then exact hamming verify via
    bit_count(xor).

    Buckets larger than ``max_bucket_size`` are dropped before the
    self-join — one hot chunk value (empty/boilerplate docs all hash
    alike) would otherwise blow up quadratically. Same guard shape as
    ``minhash_candidates``."""
    s = simhash(df, text_col, id_col)
    bounds = _sim_chunk_bounds(max_hamming)
    chunks = s.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        F.shiftright(F.col("simhash"), start)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("chunk_val"),
                    )
                    for c, (start, width) in enumerate(bounds)
                ]
            )
        ).alias("c"),
    ).select(id_col, "simhash", F.col("c.chunk_idx").alias("chunk_idx"), F.col("c.chunk_val").alias("chunk_val"))
    from pyspark.sql import Window

    bw = Window.partitionBy("chunk_idx", "chunk_val")
    ok = chunks.withColumn("_bsz", F.count("*").over(bw)).filter(
        F.col("_bsz") <= max_bucket_size
    )
    a = ok.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "chunk_idx", "chunk_val")
    b = ok.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "chunk_idx", "chunk_val")
    pairs = (
        a.join(b, ["chunk_idx", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"))
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def simhash_near_dups_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int = 64,
) -> str:
    base = simhash_sql(table, text_col, id_col)
    bounds = _sim_chunk_bounds(max_hamming)
    chunk_rows = "\nUNION ALL\n".join(
        f"SELECT {id_col}, simhash, {c} AS chunk_idx, (simhash >> {start}) & {(1 << width) - 1} AS chunk_val FROM sim_t"
        for c, (start, width) in enumerate(bounds)
    )
    return f"""
    WITH sim_t AS ({base}),
    chunks AS ({chunk_rows}),
    sized AS (SELECT *, count(*) OVER (PARTITION BY chunk_idx, chunk_val) AS bsz FROM chunks),
    ok AS (SELECT * FROM sized WHERE bsz <= {max_bucket_size})
    SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM ok a JOIN ok b
      ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
    WHERE a.{id_col} < b.{id_col}
      AND bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


# ------------------------------------------- connected components

# target edges per union-find task: a parent dict over ~2×2M longs is
# ~300 MB of CPython objects — comfortably inside an executor task
_CC_EDGES_PER_TASK = 2_000_000


def _local_star(batches):
    """Per-partition union-find over (a, b) edge batches → STAR edges
    ``(root, node)``, root = local-component MIN node id (union attaches
    the larger root under the smaller; find path-compresses). The star
    set has one edge per non-root node, so it is never larger than the
    input and preserves connectivity exactly: a node split across
    partitions belongs to several stars, which keeps those stars
    linked for the next round."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for pdf in batches:
        for a, b in zip(pdf["a"], pdf["b"]):
            ra, rb = find(int(a)), find(int(b))
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
    out_a, out_b = [], []
    for n in parent:
        r = find(n)
        if r != n:
            out_a.append(r)
            out_b.append(n)
    if out_a:
        yield pd.DataFrame({"a": out_a, "b": out_b})


def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iter: int = 15
) -> DataFrame:
    """Collapse verified near-dup PAIRS into clusters: every doc gets
    ``cluster_id`` = the minimum doc id reachable through the pair
    graph — the step that turns pairwise dedup output into "keep one
    doc per duplicate group".

    Algorithm: iterated per-partition STAR CONTRACTION (the
    filtering/union-find-contraction shape from the MapReduce-CC
    literature — Lattanzi et al. "Filtering: a method for solving graph
    problems in MapReduce"; Kiveris et al.'s star operations are the
    per-edge analogue). Each round hash-partitions the edge list and
    runs union-find INSIDE each partition (one Arrow-batched
    ``mapInPandas`` pass, memory bounded by edges-per-task); each local
    component collapses to a star rooted at its min node id. Stars
    overlap wherever a node straddled partitions, so connectivity is
    exactly preserved while the edge count drops to one-per-node. The
    partition count halves each round, so the final round unions the
    whole — by then star-contracted — graph in ONE task and is exact by
    construction: no fixpoint detection, no O(diameter) rounds. The
    label-propagation alternative needed ~13 shuffle rounds on the long
    near-dup chains the sf0.1 corpus produces; this needs
    ``log2(initial partitions)`` rounds, each data-bound rather than
    scheduling-bound.

    100 TB note: the final single task holds one dict entry per
    duplicate-involved doc (not per corpus doc). At ~2M edges/task
    (``_CC_EDGES_PER_TASK``) that is ~300 MB of CPython dict — if the
    duplicate graph ever exceeds that, raise the floor partition count
    and add a fixpoint check instead of the P=1 shortcut.

    Min-id roots at every level make the result deterministic and equal
    to the global min-reachable id regardless of partitioning."""
    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    edges = (
        e.filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = edges.count()
    if n_edges == 0:
        return pairs.sparkSession.createDataFrame([], "doc_id long, cluster_id long")
    nparts = max(1, min(2048, n_edges // _CC_EDGES_PER_TASK))
    if max_iter < nparts.bit_length() + 1:
        # exactness depends on reaching the nparts==1 round — halving
        # from the initial count needs log2(nparts)+1 rounds; exiting
        # early would silently emit conflicting cluster ids
        raise ValueError(
            f"max_iter={max_iter} cannot reach the final single-partition "
            f"round from {nparts} partitions (needs {nparts.bit_length() + 1})"
        )
    schema = "a long, b long"
    rounds = 0
    while True:
        # max_iter is a REAL cap, not just the up-front guard above:
        # if the halving schedule ever changes, exceeding it fails loudly
        # instead of silently emitting conflicting cluster ids
        rounds += 1
        if rounds > max_iter:
            raise RuntimeError(
                f"connected_components exceeded max_iter={max_iter} rounds "
                f"without reaching the single-partition round"
            )
        star = edges.repartition(nparts, "a").mapInPandas(_local_star, schema=schema)
        if nparts == 1:
            edges = star.localCheckpoint(eager=True)  # exact: one task saw it all
            break
        edges = star.distinct().localCheckpoint(eager=True)
        nparts = max(1, nparts // 2)
    members = edges.select(F.col("b").alias("doc_id"), F.col("a").alias("cluster_id"))
    roots = edges.select(F.col("a").alias("doc_id")).distinct().withColumn(
        "cluster_id", F.col("doc_id")
    )
    return members.unionByName(roots)


def connected_components_sql(pairs_query: str) -> str:
    """DuckDB twin: transitive closure by recursive CTE (every node
    collects all reachable labels, then takes the min). Exponential in
    path multiplicity — oracle-scale only; the Spark side converges in
    O(diameter) rounds."""
    return f"""
    WITH RECURSIVE
    pairs AS ({pairs_query}),
    -- a <> b mirrors the Spark side's self-loop filter: a node that
    -- appears ONLY in self-pairs is in no component on either engine
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs WHERE id_a <> id_b
              UNION
              SELECT id_b AS a, id_a AS b FROM pairs WHERE id_a <> id_b),
    walk AS (
        SELECT a, a AS lbl FROM (SELECT DISTINCT a FROM edges) t
        UNION
        SELECT e.a, w.lbl FROM edges e JOIN walk w ON w.a = e.b
    )
    SELECT a AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY a
    """


# ----------------------------------------------------- fuzzy decontam


def fuzzy_decontam(
    df: DataFrame,
    heldout_pred,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.3,
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
) -> DataFrame:
    """Fuzzy test-set decontamination: training docs whose word-set
    Jaccard against ANY held-out doc clears ``threshold`` — the
    approximate complement to the exact-shingle ``decontam_overlap``
    (paraphrased or lightly-edited leakage shares few exact 5-grams
    but keeps high set overlap).

    Pipeline: one minhash-signature pass over the corpus (the md5 cost
    is paid ONCE, both sides are filters of it), LSH band join with the
    held-out side BROADCAST (a held-out benchmark is ~1e3-1e6 docs —
    always the broadcast side at corpus scale, so the training side is
    probed in place and never shuffled, and band-bucket skew cannot
    exist), then exact Jaccard verify sized by |candidates|.

    ``heldout_pred``: boolean Column marking held-out docs. Emits
    (id_a = flagged training doc, id_b = matched held-out doc,
    jaccard)."""
    cand = fuzzy_decontam_candidates(df, heldout_pred, text_col, id_col, num_perm, bands)
    # materialization barrier before the verify: jaccard_verify
    # references the candidate table TWICE (id prefilter + pair join)
    # and exchange reuse does not cross its checkpoint subtrees, so an
    # un-staged candidate frame would run (and Catalyst would analyze)
    # the whole signature+band-join pass once per reference. Every
    # other verify consumer reads candidates from a parquet stage; this
    # query is single-shot, so a lazy localCheckpoint is the same
    # barrier without the write.
    cand = cand.localCheckpoint(eager=False)
    return jaccard_verify(df, cand, text_col, id_col, threshold)


def fuzzy_decontam_candidates(
    df: DataFrame,
    heldout_pred,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
) -> DataFrame:
    """The candidate stage of :func:`fuzzy_decontam`, exposed so the
    plan tests can pin the broadcast contract directly (the verify
    above it ends at a numeric-stats barrier, which truncates the
    visible plan)."""
    sigs = minhash_signatures(df, text_col, id_col, num_perm)
    b = lsh_bands(sigs, id_col, num_perm, bands)
    held_ids = df.filter(heldout_pred).select(F.col(id_col).alias("_hid"))
    tb = b.join(F.broadcast(held_ids), b[id_col] == F.col("_hid"), "left_anti")
    hb = (
        b.join(F.broadcast(held_ids), b[id_col] == F.col("_hid"), "left_semi")
        .withColumnRenamed(id_col, "_held_id")
    )
    return (
        tb.join(F.broadcast(hb), ["band_idx", "band_hash"])
        .select(F.col(id_col).alias("id_a"), F.col("_held_id").alias("id_b"))
        .distinct()
    )


def fuzzy_decontam_sql(
    heldout_pred_sql: str,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.3,
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
) -> str:
    sig = minhash_signatures_sql(table, text_col, id_col, num_perm)
    bands_sql = lsh_bands_sql("sig_t", id_col, num_perm, bands)
    # the predicate is evaluated against the TABLE (a held CTE of ids),
    # not spliced into bands_t — it may reference any document column,
    # matching the Spark side's arbitrary-Column contract
    return f"""
    WITH sig_t AS ({sig}),
    bands_t AS ({bands_sql}),
    held AS (SELECT {id_col} AS hid FROM {table} WHERE {heldout_pred_sql}),
    cand AS (
      SELECT DISTINCT t.{id_col} AS id_a, h.{id_col} AS id_b
      FROM bands_t t
      JOIN bands_t h ON t.band_idx = h.band_idx AND t.band_hash = h.band_hash
      JOIN held ON h.{id_col} = held.hid
      WHERE t.{id_col} NOT IN (SELECT hid FROM held))
    {jaccard_verify_sql("cand", table, text_col, id_col, threshold)}
    """


# ------------------------------------------------------- PageRank

PAGERANK_DAMPING = 0.85
PAGERANK_ITERS = 3


def pagerank(
    pairs: DataFrame,
    iters: int = PAGERANK_ITERS,
    damping: float = PAGERANK_DAMPING,
) -> DataFrame:
    """PageRank over the (undirected) near-dup pair graph — the
    centrality signal web-corpus pipelines use for document authority
    (CommonCrawl ranks hosts with exactly this family). Fixed
    ``iters`` power iterations, so the oracle can unroll the same
    algebra as chained CTEs.

    Scale shape per iteration: one join of the rank vector with the
    edge list (both partitioned by source id — co-partitioned at
    scale), one groupBy on the destination. Cross-engine determinism:
    each neighbor contribution rounds to 9dp and sums as
    DECIMAL(38,9) (order-independent), and every scalar literal is
    written as the same double expression on both sides.

    Rounding is arithmetic half-up via ``floor(x*1e9 + 0.5)/1e9`` —
    pure IEEE ops, bit-identical in every engine — NOT the engines'
    ``round()`` builtins, whose half-way semantics differ (Spark
    rounds the shortest decimal repr half-up, DuckDB rounds the
    binary value, python rounds half-even).

    Emits (doc_id, pagerank). No collects beyond the node count."""
    edges = pairs.select(
        F.col("id_a").alias("s"), F.col("id_b").alias("t")
    ).unionByName(pairs.select(F.col("id_b").alias("s"), F.col("id_a").alias("t")))
    # cut lineage: edges feed deg, every iteration's join, and nodes
    edges = edges.localCheckpoint(eager=False)
    # nodes and deg are STATIC across the power iterations but were
    # re-planned (distinct + groupBy exchanges) inside every iteration's
    # pr rebuild — checkpoint each once (guide §2.4: a loop must not
    # re-shuffle loop-invariant tables). nodes materializes here anyway
    # via the count().
    nodes = edges.select(F.col("s").alias("id")).distinct().localCheckpoint(eager=False)
    deg = edges.groupBy("s").agg(F.count("*").alias("d")).localCheckpoint(eager=False)
    n = nodes.count() or 1  # empty graph: every stage below yields 0 rows
    pr = nodes.select("id", F.lit(1.0 / n).alias("pr"))
    for _ in range(iters):
        contrib = (
            edges.join(pr.withColumnRenamed("id", "s"), "s")
            .join(deg, "s")
            .select(
                F.col("t").alias("id"),
                (F.floor(F.col("pr") / F.col("d") * 1e9 + 0.5) / 1e9)
                .cast("decimal(38,9)")
                .alias("c"),
            )
        )
        sums = contrib.groupBy("id").agg(F.sum("c").alias("cs"))
        pr = nodes.join(sums, "id", "left").select(
            "id",
            (
                F.floor(
                    (
                        F.lit((1 - damping) / n)
                        + damping * F.coalesce(F.col("cs"), F.lit(0)).cast("double")
                    )
                    * 1e9
                    + 0.5
                )
                / 1e9
            ).alias("pr"),
        )
    return pr.select(
        F.col("id").alias("doc_id"),
        (F.floor(F.col("pr") * 1e6 + 0.5) / 1e6).alias("pagerank"),
    )


def pagerank_sql(
    pairs_query: str,
    iters: int = PAGERANK_ITERS,
    damping: float = PAGERANK_DAMPING,
) -> str:
    ctes = [
        f"pairs AS ({pairs_query})",
        "edges AS (SELECT id_a AS s, id_b AS t FROM pairs "
        "UNION ALL SELECT id_b, id_a FROM pairs)",
        "nodes AS (SELECT DISTINCT s AS id FROM edges)",
        "deg AS (SELECT s AS id, count(*) AS d FROM edges GROUP BY 1)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "pr0 AS (SELECT id, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn)",
    ]
    prev = "pr0"
    for i in range(1, iters + 1):
        ctes.append(
            f"it{i} AS (SELECT e.t AS id, "
            f"sum(CAST(floor(p.pr / deg.d * 1e9 + 0.5) / 1e9 AS DECIMAL(38,9))) AS cs "
            f"FROM edges e JOIN {prev} p ON e.s = p.id "
            f"JOIN deg ON deg.id = e.s GROUP BY 1)"
        )
        ctes.append(
            f"pr{i} AS (SELECT nodes.id, "
            f"floor(((1 - {damping}) / nn.n "
            f"+ {damping} * CAST(coalesce(it{i}.cs, 0) AS DOUBLE)) * 1e9 + 0.5) / 1e9 AS pr "
            f"FROM nodes LEFT JOIN it{i} ON nodes.id = it{i}.id CROSS JOIN nn)"
        )
        prev = f"pr{i}"
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id AS doc_id, floor(pr * 1e6 + 0.5) / 1e6 AS pagerank FROM {prev}"
    )


# ---------------------------------------------- LSH parameter tuning

def lsh_candidate_probability(jaccard: float, bands: int, rows: int) -> float:
    """P(candidate) for similarity s under (b bands, r rows/band):
    1 - (1 - s^r)^b — the MMDS S-curve."""
    return 1.0 - (1.0 - jaccard**rows) ** bands


def lsh_threshold(bands: int, rows: int) -> float:
    """The S-curve inflection (1/b)^(1/r) — the similarity where
    candidate probability crosses ~0.5; pairs above it are likely
    candidates, below it likely filtered."""
    return (1.0 / bands) ** (1.0 / rows)


def tune_lsh_params(
    threshold: float,
    num_perm: int = NUM_PERM,
    fn_weight: float = 0.5,
) -> tuple[int, int]:
    """Pick (bands, rows_per_band) for a target jaccard threshold by
    minimizing weighted false-positive + false-negative S-curve area
    (the datasketch/MMDS tuning rule): FP area = integral of
    P(candidate) below the threshold, FN area = integral of
    1 - P(candidate) above it, both by midpoint rule. ``fn_weight``
    biases toward recall (dedup pipelines usually prefer a few extra
    verify pairs over missed dups).

    Driver-side pure math over <= num_perm divisor pairs — use it to
    pick NUM_PERM/BANDS before a run; the verify stage makes the final
    call exact either way."""
    best, best_err = None, None
    steps = 200
    for rows in range(1, num_perm + 1):
        if num_perm % rows:
            continue
        bands = num_perm // rows
        fp = sum(
            lsh_candidate_probability((i + 0.5) * threshold / steps, bands, rows)
            for i in range(steps)
        ) * (threshold / steps)
        fn = sum(
            1.0
            - lsh_candidate_probability(
                threshold + (i + 0.5) * (1.0 - threshold) / steps, bands, rows
            )
            for i in range(steps)
        ) * ((1.0 - threshold) / steps)
        err = (1.0 - fn_weight) * fp + fn_weight * fn
        if best_err is None or err < best_err:
            best, best_err = (bands, rows), err
    return best


def triangle_counts(pairs: DataFrame, topk: int = 20) -> DataFrame:
    """Per-document triangle participation over the near-dup pair
    graph — triangles are the densest duplicate cliques (A~B, B~C,
    A~C all near-dups), the strongest evidence of a template or
    boilerplate family; with CC (reach), PageRank (authority) and this
    (clique density) the graph tier covers the three classic signals.

    Algorithm: compact-forward / degree ordering. Edges orient from
    the (degree, id)-smaller endpoint to the larger, wedges are built
    only at each edge's LOW-rank endpoint, and a wedge closes into a
    triangle iff its (v1, v2) leg exists as an oriented edge. Degree
    ordering is the standard skew guard: a hub of degree d generates
    wedges only among its HIGHER-rank neighbors, bounding wedge count
    by O(m^1.5) overall instead of sum(d^2) — the difference between a
    web-crawl boilerplate hub finishing and one straggler task
    squaring it. Joins shuffle on node ids; the degree table is tiny
    and broadcasts."""
    e = pairs.select(F.col("id_a").alias("x"), F.col("id_b").alias("y"))
    # ONE pass builds the degree table (explode both endpoints instead
    # of a two-scan unionAll), checkpointed because three consumers
    # (dx, dy, the wedge-rank join) would otherwise each re-plan it —
    # the r12 plan re-scanned the staged pair parquet 19 times through
    # this fan-out (guide §2.1/§6: scans multiply at 100 TB).
    deg = (
        e.select(F.explode(F.array("x", "y")).alias("n"))
        .groupBy("n")
        .agg(F.count("*").cast("bigint").alias("d"))
        .localCheckpoint(eager=False)
    )
    dx = deg.select(F.col("n").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("n").alias("y"), F.col("d").alias("dy"))
    ed = e.join(F.broadcast(dx), "x").join(F.broadcast(dy), "y")
    fwd = F.when(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))),
        F.struct(F.col("x").alias("u"), F.col("y").alias("v")),
    ).otherwise(F.struct(F.col("y").alias("u"), F.col("x").alias("v")))
    # the oriented edge list is consumed three times (both wedge legs
    # and the closing-edge probe) but is NOT checkpointed: with `deg`
    # checkpointed its re-plans are a pair scan plus two broadcast
    # joins, and a checkpoint measured no faster (sf0.1, 2,454 pairs:
    # 0.71-0.94 s warm either way) while hiding the staged pair table
    # from the plan
    o = ed.select(fwd.alias("_e")).select("_e.u", "_e.v")
    # rank of v within u's out-neighbors: (deg, id) tuple order again,
    # so each unordered wedge is generated exactly once
    ov = o.join(F.broadcast(deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))), "v")
    w1 = ov.select(F.col("u"), F.col("v").alias("v1"), F.col("dv").alias("d1"))
    w2 = ov.select(F.col("u"), F.col("v").alias("v2"), F.col("dv").alias("d2"))
    wedges = w1.join(w2, "u").filter(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2")))
    )
    closing = o.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    tri = wedges.join(closing, ["v1", "v2"]).select("u", "v1", "v2")
    per_doc = (
        tri.select(F.explode(F.array("u", "v1", "v2")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), F.asc("doc_id"))
        .limit(topk)
    )
    return per_doc


def triangle_counts_sql(pairs_sql: str, topk: int = 20) -> str:
    """DuckDB twin of :func:`triangle_counts` over a pair-producing
    SELECT (id_a, id_b, ...)."""
    return f"""
    WITH pairs AS MATERIALIZED ({pairs_sql}),
    e AS MATERIALIZED (SELECT id_a AS x, id_b AS y FROM pairs),
    deg AS MATERIALIZED (
      SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT x AS n FROM e UNION ALL SELECT y AS n FROM e)
      GROUP BY n),
    o AS MATERIALIZED (
      SELECT CASE WHEN (dx.d, e.x) < (dy.d, e.y) THEN e.x ELSE e.y END AS u,
             CASE WHEN (dx.d, e.x) < (dy.d, e.y) THEN e.y ELSE e.x END AS v
      FROM e JOIN deg dx ON dx.n = e.x JOIN deg dy ON dy.n = e.y),
    ov AS MATERIALIZED (SELECT o.u, o.v, deg.d AS dv FROM o JOIN deg ON deg.n = o.v),
    wedges AS (
      SELECT a.u, a.v AS v1, b.v AS v2
      FROM ov a JOIN ov b ON a.u = b.u
      WHERE (a.dv, a.v) < (b.dv, b.v)),
    tri AS (
      SELECT w.u, w.v1, w.v2
      FROM wedges w JOIN o ON o.u = w.v1 AND o.v = w.v2)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles
    FROM (SELECT u AS doc_id FROM tri UNION ALL
          SELECT v1 FROM tri UNION ALL SELECT v2 FROM tri)
    GROUP BY doc_id ORDER BY n_triangles DESC, doc_id ASC LIMIT {topk}
    """


# ------------------------------------------------- threshold yield curve

THRESHOLD_CURVE = (0.3, 0.5, 0.7, 0.8, 0.9)


def jaccard_threshold_curve(
    df: DataFrame,
    candidates: DataFrame,
    thresholds: tuple[float, ...] = THRESHOLD_CURVE,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup yield as a function of the similarity threshold — the knob
    an actual curation run tunes before committing to a cutoff: per
    threshold, the surviving verified pair count, the documents the
    greedy keep-smallest-id rule would remove (distinct larger-side
    ids — the standard pre-clustering yield estimate), and that count
    as a corpus fraction.

    The whole curve costs ONE verify pass: exact Jaccard is computed
    once per candidate pair (threshold 0.0 keeps them all), then every
    threshold is a conditional aggregate over the same pair table —
    5 thresholds never re-shingle, re-join, or re-shuffle anything.
    The curve is conditional on the LSH candidate generator: points
    far below the generator's recall knee (~0.3 with NUM_PERM=16,
    BANDS=4) undercount pairs the index never proposed — which is
    exactly the property being studied.

    The unpivot is a ``stack`` over the single aggregate row, so an
    empty pair table still yields one row per threshold (zeros), and
    the only driver-side value is the corpus row count."""
    pairs = jaccard_verify(df, candidates, text_col, id_col, threshold=0.0)
    total = df.count()
    aggs = []
    for i, t in enumerate(thresholds):
        keep = F.col("jaccard") >= F.lit(float(t))
        aggs.append(
            F.coalesce(F.sum(keep.cast("bigint")), F.lit(0))
            .cast("bigint")
            .alias(f"_p{i}")
        )
        aggs.append(
            F.count_distinct(F.when(keep, F.col("id_b")))
            .cast("bigint")
            .alias(f"_d{i}")
        )
    one = pairs.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({float(t)!r} AS DOUBLE), _p{i}, _d{i}" for i, t in enumerate(thresholds)
    )
    curve = one.select(
        F.expr(
            f"stack({len(thresholds)}, {stack_args})"
            " AS (threshold, pairs_kept, docs_removed)"
        )
    )
    from tinyetl_spark.operators.text import floor_round

    return curve.select(
        "threshold",
        "pairs_kept",
        "docs_removed",
        floor_round(
            F.col("docs_removed").cast("double") / F.lit(float(total)), 6
        ).alias("removal_rate"),
    ).orderBy("threshold")


def jaccard_threshold_curve_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    thresholds: tuple[float, ...] = THRESHOLD_CURVE,
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    max_bucket_size: int = 64,
) -> str:
    from tinyetl_spark.operators.text import floor_round_sql

    ctes = _minhash_candidates_ctes(
        table, text_col, id_col, num_perm, bands, max_bucket_size
    )
    cols, sel = [], []
    for i, t in enumerate(thresholds):
        cols.append(
            f"coalesce(sum(CASE WHEN jaccard >= {float(t)!r} THEN 1 END), 0) AS p{i}"
        )
        cols.append(
            f"count(DISTINCT CASE WHEN jaccard >= {float(t)!r} THEN id_b END) AS d{i}"
        )
        sel.append(
            f"SELECT CAST({float(t)!r} AS DOUBLE) AS threshold,"
            f" p{i} AS pairs_kept, d{i} AS docs_removed FROM one"
        )
    rate = floor_round_sql("CAST(t.docs_removed AS DOUBLE) / tot.n", 6)
    union = " UNION ALL ".join(sel)
    pairs = _jaccard_pairs_ctes("cand", table, text_col, id_col)
    return f"""
    WITH {ctes}{pairs},
    one AS (SELECT {", ".join(cols)} FROM pairj),
    tot AS (SELECT count(*) AS n FROM {table})
    SELECT t.threshold, CAST(t.pairs_kept AS BIGINT) AS pairs_kept,
           CAST(t.docs_removed AS BIGINT) AS docs_removed,
           {rate} AS removal_rate
    FROM ({union}) t CROSS JOIN tot
    ORDER BY threshold
    """


# --------------------------------------------- LSH parameter curve

LSH_CONFIGS = ((2, 8), (4, 4), (8, 2))  # (bands, rows/band), bands*rows = 16


def lsh_parameter_curve(
    df: DataFrame,
    configs: tuple[tuple[int, int], ...] = LSH_CONFIGS,
    cap: int = DEDUP_AUDIT_CAP,
    threshold: float = 0.3,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = NUM_PERM,
    max_bucket_size: int = 64,
) -> DataFrame:
    """The LSH INDEX knob, measured: candidate volume and truth recall
    per (bands, rows/band) split of the same 16 permutations, plus the
    theoretical S-curve knee t ~ (1/b)^(1/r). More bands = lower knee
    = more candidates and more recall; this curve is how a dedup run
    picks its config BEFORE paying for a 100 TB candidate join —
    the index-side complement to near_dup_threshold_curve's verify-
    side cutoff.

    Cost shape: ONE signature pass (per-row fold, zero shuffle)
    serves all three configs — banding is a narrow projection, so
    each config adds only its own bucket groupBy over the audit
    slice; the brute-force ground truth is quadratic ONLY in the
    fixed cap slice (the dedup_recall_audit contract) and computes
    once, not per config."""
    sl = df.filter(F.col(id_col) < cap)
    wsets = (
        sl.select(F.col(id_col).alias("jid"), _word_hashes_col(text_col).alias("hw"))
        .select("jid", F.array_distinct(_shingle_hashes_from("hw")).alias("ws"))
        .localCheckpoint(eager=False)
    )
    a, b = wsets.alias("a"), wsets.alias("b")
    jacc = F.round(
        F.size(F.array_intersect("a.ws", "b.ws"))
        / F.size(F.array_union("a.ws", "b.ws")).cast("double"),
        6,
    )
    truth = (
        a.join(b, F.col("a.jid") < F.col("b.jid"))
        .select(
            F.col("a.jid").alias("id_a"), F.col("b.jid").alias("id_b"), jacc.alias("j")
        )
        .filter(F.col("j") >= threshold)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    n_true = truth.agg(F.count("*").cast("long").alias("true_pairs"))
    sigs = minhash_signatures(sl, text_col, id_col, num_perm).localCheckpoint(
        eager=False
    )
    parts = []
    for bands, rpb in configs:
        if bands * rpb != num_perm:
            raise ValueError(
                f"config ({bands},{rpb}) does not tile num_perm={num_perm}"
            )
        knee = round(lsh_threshold(bands, rpb), 6)
        cand = _candidates_from_sigs(
            sigs, id_col, num_perm, bands, max_bucket_size
        ).localCheckpoint(eager=False)
        n_cand = cand.agg(F.count("*").cast("long").alias("cand_pairs"))
        n_hit = cand.join(truth, ["id_a", "id_b"]).agg(
            F.count("*").cast("long").alias("hit_pairs")
        )
        parts.append(
            n_cand.crossJoin(F.broadcast(n_hit))
            .crossJoin(F.broadcast(n_true))
            .select(
                F.lit(bands).cast("bigint").alias("bands"),
                F.lit(rpb).cast("bigint").alias("rows_per_band"),
                F.lit(float(knee)).alias("est_threshold"),
                "cand_pairs",
                "hit_pairs",
                F.when(
                    F.col("true_pairs") > 0,
                    F.col("hit_pairs").cast("double")
                    / F.col("true_pairs").cast("double"),
                )
                .otherwise(F.lit(1.0))
                .alias("recall"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("bands")


def lsh_parameter_curve_sql(
    table: str = "documents",
    configs: tuple[tuple[int, int], ...] = LSH_CONFIGS,
    cap: int = DEDUP_AUDIT_CAP,
    threshold: float = 0.3,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = NUM_PERM,
    max_bucket_size: int = 64,
) -> str:
    w = words_sql(text_col)
    sig = minhash_signatures_sql("slice_docs", text_col, id_col, num_perm)
    cfg_ctes, hit_ctes, selects = [], [], []
    for bands, rpb in configs:
        if bands * rpb != num_perm:
            raise ValueError(
                f"config ({bands},{rpb}) does not tile num_perm={num_perm}"
            )
        knee = round(lsh_threshold(bands, rpb), 6)
        bsql = lsh_bands_sql("sig_t", id_col, num_perm, bands)
        cfg_ctes.append(f"""
    bands_{bands} AS ({bsql}),
    buckets_{bands} AS (
      SELECT band_idx, band_hash, list({id_col}) AS ids
      FROM bands_{bands} GROUP BY band_idx, band_hash
      HAVING count(*) > 1 AND count(*) <= {max_bucket_size}),
    cand_{bands} AS (
      SELECT DISTINCT p[1] AS id_a, p[2] AS id_b
      FROM (SELECT unnest(list_filter(
                     flatten(list_transform(ids, a -> list_transform(ids, c -> [a, c]))),
                     p -> p[1] < p[2])) AS p
            FROM buckets_{bands}))""")
        hit_ctes.append(f"""
    hits_{bands} AS (
      SELECT CAST(count(*) AS BIGINT) AS hp
      FROM cand_{bands} JOIN truth USING (id_a, id_b))""")
        selects.append(f"""
      SELECT CAST({bands} AS BIGINT) AS bands,
             CAST({rpb} AS BIGINT) AS rows_per_band,
             CAST({float(knee)!r} AS DOUBLE) AS est_threshold,
             (SELECT CAST(count(*) AS BIGINT) FROM cand_{bands}) AS cand_pairs,
             (SELECT hp FROM hits_{bands}) AS hit_pairs,
             CASE WHEN (SELECT true_pairs FROM n_true) > 0
                  THEN CAST((SELECT hp FROM hits_{bands}) AS DOUBLE)
                       / CAST((SELECT true_pairs FROM n_true) AS DOUBLE)
                  ELSE 1.0 END AS recall""")
    return f"""
    WITH slice_docs AS (SELECT * FROM {table} WHERE {id_col} < {cap}),
    sig_t AS ({sig}),{",".join(cfg_ctes)},
    wsets AS (
      SELECT jid, list_distinct(hb) AS ws
      FROM (SELECT jid, {_shingle_hashes_sql(text_col)} AS hb
            FROM (SELECT {id_col} AS jid,
                         list_transform({w}, x -> {hash64_sql('x')}) AS hw
                  FROM slice_docs))),
    truth AS (
      SELECT a.jid AS id_a, b.jid AS id_b
      FROM wsets a JOIN wsets b ON a.jid < b.jid
      WHERE round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.ws, b.ws))), 6)
            >= {threshold}),
    n_true AS (SELECT CAST(count(*) AS BIGINT) AS true_pairs FROM truth),{",".join(hit_ctes)}
    {" UNION ALL ".join(selects)}
    ORDER BY bands
    """


def dedup_quality_impact(
    df: DataFrame,
    candidates: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """What near-dup dedup actually removes: mean heuristic quality and
    mean length of the REMOVED cohort (greedy keep-smallest-id over
    verified pairs) vs the KEPT cohort — the sanity audit that a dedup
    pass is shedding boilerplate, not the corpus's best documents
    (Lee et al. 2022's motivating analysis). One verify pass over the
    staged candidates; the removed-id set left-joins back as a flag;
    per-doc quality is in-row; means are integer micro-unit sums."""
    from tinyetl_spark.operators.text import floor_round, quality_score

    pairs = jaccard_verify(df, candidates, text_col, id_col, threshold=threshold)
    removed = pairs.select(F.col("id_b").alias("_rid")).distinct()
    q = quality_score(df, text_col, id_col).select(
        F.col(id_col),
        F.floor(F.col("quality") * F.lit(1e9) + F.lit(0.5)).cast("bigint").alias("_qu"),
        F.col("n_words"),
    )
    flagged = q.join(
        removed, q[id_col] == removed["_rid"], "left"
    ).select(
        F.when(F.col("_rid").isNotNull(), F.lit("removed"))
        .otherwise(F.lit("kept"))
        .alias("cohort"),
        "_qu",
        "n_words",
    )
    return (
        flagged.groupBy("cohort")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("_qu").alias("_qs"),
            F.sum("n_words").alias("_ws"),
        )
        .select(
            "cohort",
            "n_docs",
            floor_round(
                F.col("_qs").cast("double") / (F.col("n_docs") * F.lit(1e9)), 6
            ).alias("mean_quality"),
            floor_round(
                F.col("_ws").cast("double") / F.col("n_docs").cast("double"), 6
            ).alias("mean_words"),
        )
        .orderBy("cohort")
    )


def dedup_quality_impact_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    max_bucket_size: int = 64,
) -> str:
    from tinyetl_spark.operators.text import floor_round_sql, quality_score_sql

    ctes = _minhash_candidates_ctes(
        table, text_col, id_col, num_perm, bands, max_bucket_size
    )
    pairs = _jaccard_pairs_ctes("cand", table, text_col, id_col)
    return f"""
    WITH {ctes}{pairs},
    removed AS (
      SELECT DISTINCT id_b AS rid FROM pairj WHERE jaccard >= {threshold}),
    q AS (
      SELECT {id_col},
             CAST(floor(quality * 1e9 + 0.5) AS BIGINT) AS qu, n_words
      FROM ({quality_score_sql(table, text_col, id_col)})),
    flagged AS (
      SELECT CASE WHEN r.rid IS NOT NULL THEN 'removed' ELSE 'kept' END AS cohort,
             q.qu, q.n_words
      FROM q LEFT JOIN removed r ON q.{id_col} = r.rid)
    SELECT cohort,
           CAST(count(*) AS BIGINT) AS n_docs,
           {floor_round_sql(
               "CAST(sum(qu) AS DOUBLE) / (count(*) * 1e9)", 6)} AS mean_quality,
           {floor_round_sql(
               "CAST(sum(n_words) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)} AS mean_words
    FROM flagged GROUP BY cohort ORDER BY cohort
    """


# ---------------------------------------------------------------------------
# Generic banded Hamming join (shared by SimHash-style text hashes and
# the multimodal dHash tier)
# ---------------------------------------------------------------------------


def _hamming_chunk_bounds(bits: int, max_hamming: int, min_chunks: int = 4):
    """(start_bit, width) per LSH chunk over a ``bits``-wide hash —
    the :func:`_sim_chunk_bounds` pigeonhole generalized: a pair
    within hamming distance h agrees on >= 1 of h+1 disjoint chunks,
    so recall is full at any radius; narrower chunks collide more and
    the bucket cap is what keeps that safe."""
    n = max(min_chunks, max_hamming + 1)
    base, rem = divmod(bits, n)
    bounds, start = [], 0
    for i in range(n):
        width = base + (1 if i < rem else 0)
        bounds.append((start, width))
        start += width
    return bounds


def hamming_near_dups(
    hashes: DataFrame,
    hash_col: str,
    id_col: str = "doc_id",
    bits: int = 64,
    max_hamming: int = 8,
    max_bucket_size: int = 64,
) -> DataFrame:
    """Near-dup pairs (id_a, id_b, hamming) from any BIGINT bit-hash:
    pigeonhole chunk explode -> capped buckets -> equi-self-join ->
    exact bit_count(xor) verify. Identical scale shape to
    :func:`simhash_near_dups` (one chunk shuffle, never all-pairs;
    arithmetic shift + mask extracts identical chunk values in both
    engines even when bit 63 wraps the hash negative, because every
    masked bit position is a genuine hash bit). The hot-bucket cap drops
    degenerate-constant images the same way boilerplate text is
    dropped from simhash buckets — documented recall contract, and the
    oracle twin applies the same cap so results hash-match."""
    bounds = _hamming_chunk_bounds(bits, max_hamming)
    chunks = hashes.select(
        F.col(id_col),
        F.col(hash_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        F.shiftright(F.col(hash_col), start)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("chunk_val"),
                    )
                    for c, (start, width) in enumerate(bounds)
                ]
            )
        ).alias("c"),
    ).select(
        id_col,
        hash_col,
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.chunk_val").alias("chunk_val"),
    )
    from pyspark.sql import Window

    bw = Window.partitionBy("chunk_idx", "chunk_val")
    ok = chunks.withColumn("_bsz", F.count("*").over(bw)).filter(
        F.col("_bsz") <= max_bucket_size
    )
    a = ok.select(
        F.col(id_col).alias("id_a"), F.col(hash_col).alias("h_a"),
        "chunk_idx", "chunk_val",
    )
    b = ok.select(
        F.col(id_col).alias("id_b"), F.col(hash_col).alias("h_b"),
        "chunk_idx", "chunk_val",
    )
    pairs = (
        a.join(b, ["chunk_idx", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def hamming_near_dups_sql(
    hash_cte: str,
    hash_col: str,
    id_col: str = "doc_id",
    bits: int = 64,
    max_hamming: int = 8,
    max_bucket_size: int = 64,
) -> str:
    """DuckDB twin of :func:`hamming_near_dups` over a CTE named
    ``hash_cte`` providing (id_col, hash_col) — the banded join
    mirrored exactly (same chunks, same bucket cap), so the recall
    contract hash-matches."""
    bounds = _hamming_chunk_bounds(bits, max_hamming)
    chunk_rows = "\nUNION ALL\n".join(
        f"SELECT {id_col}, {hash_col},"
        f" {c} AS chunk_idx,"
        f" ({hash_col} >> {start}) & {(1 << width) - 1} AS chunk_val"
        f" FROM {hash_cte}"
        for c, (start, width) in enumerate(bounds)
    )
    return f"""
    chunks AS ({chunk_rows}),
    sized AS (SELECT *, count(*) OVER (PARTITION BY chunk_idx, chunk_val)
                     AS bsz FROM chunks),
    ok AS (SELECT * FROM sized WHERE bsz <= {max_bucket_size}),
    ham_pairs AS (
      SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b,
             bit_count(xor(a.{hash_col}, b.{hash_col})) AS hamming
      FROM ok a JOIN ok b
        ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
      WHERE a.{id_col} < b.{id_col}
        AND bit_count(xor(a.{hash_col}, b.{hash_col})) <= {max_hamming})"""
