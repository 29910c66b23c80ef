"""Product quantization (PQ) + IVF-PQ composition for the ANN family.

PQ splits each d-dim embedding into ``m`` subspaces and snaps each
sub-vector to its nearest entry of a per-subspace codebook: a vector
becomes ``m`` small integers (here 8 x 4-bit codes = 4 bytes vs 256
bytes of float32 for the 64-dim corpus — 64x), and query-time scoring
is ASYMMETRIC DISTANCE (ADC): the probe precomputes one lookup table of
``m x k_codes`` partial inner products, and every candidate's score is
``m`` table lookups + a sum — no float vector is touched until the
final exact re-rank of a small shortlist (Jegou et al. 2011, "Product
Quantization for Nearest Neighbor Search").

Composition with IVF (the registered ``ann_ivfpq_topk``): the coarse
quantizer prunes to the probed inverted lists (directory-pruned
partitions at scale), ADC ranks the pruned candidates from codes alone,
and only the shortlist is re-ranked with exact cosine — the standard
billion-vector memory hierarchy (codes resident, vectors fetched for
tens of rows).

Scale design (100 TB / billions of vectors):

- **Build is one pass**: codebook training reuses the IVF machinery
  (md5-sampled portable codebooks, or per-subspace Lloyd via
  ``ivf_train`` on sub-vector frames — the reuse the r10 verdict asked
  for); encoding is an Arrow-batched pandas UDF doing one B x d @ d x k
  matmul per subspace per batch, map-only, written partitioned by
  inverted list.
- **Probe touches codes, not vectors**: the ADC LUT is m x k_codes
  driver-side floats (bounded), broadcast-joined to exploded codes; the
  per-candidate sum is a hash-agg in DECIMAL(18,6) (exact,
  order-independent). The exact re-rank reads ``k_cand`` full vectors.
- **Engine-portable determinism** (the value-oracle path): codebooks
  are md5-ordered samples; code assignment is
  ``argmin round(||v_m - c||^2, 6)`` with ties to the LOWEST code index
  (numpy stable argmin == ``row_number() OVER (ORDER BY d2, j)``), the
  squared distance expanded as ``vv - 2*vc + cc`` in that association
  on both engines; LUT partials are round-6 and summed as decimals.
  Rounding absorbs cross-engine float-summation-order noise exactly as
  ivf_assign's portable rule does (operators/similarity.py).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from .similarity import (
    cosine,
    ivf_assign,
    ivf_centroids,
    ivf_probe_lists,
    ivf_train,
    ivf_train_portable,
)


def pq_codebooks(
    embeddings: DataFrame,
    *,
    m: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    portable: bool = True,
    refine_iters: int = 2,
) -> list[list[list[float]]]:
    """Per-subspace codebooks, ``codebooks[mi][j]`` = the j-th code's
    sub-centroid. ``portable=True``: ONE md5-ordered sample of
    ``k_codes`` vectors, sliced per subspace (SQL-replayable, the
    registered query's mode). ``portable=False``: per-subspace Lloyd
    refinement — ``ivf_train`` run on each sub-vector frame, the IVF
    k-means machinery reused verbatim (better codebooks, float-average
    centroids are not bit-portable)."""
    if portable:
        sample = ivf_centroids(
            embeddings, n_centroids=k_codes, id_col=id_col, vec_col=vec_col,
            hash_mode="md5",
        )
        if len(sample[0]) % m != 0:
            raise ValueError(
                f"embedding dim {len(sample[0])} not divisible by m={m}: "
                "trailing dimensions would be silently dropped from codes "
                "and ADC scores"
            )
        d = len(sample[0]) // m
        return [
            [vec[mi * d : (mi + 1) * d] for vec in sample] for mi in range(m)
        ]
    dim = len(embeddings.select(vec_col).first()[0])
    if dim % m != 0:
        raise ValueError(
            f"embedding dim {dim} not divisible by m={m}: trailing "
            "dimensions would be silently dropped from codes and ADC scores"
        )
    d = dim // m
    books = []
    for mi in range(m):
        sub = embeddings.select(
            F.col(id_col),
            F.slice(F.col(vec_col), mi * d + 1, d).alias(vec_col),
        )
        books.append(
            ivf_train(
                sub, n_centroids=k_codes, refine_iters=refine_iters,
                id_col=id_col, vec_col=vec_col,
            )
        )
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Codes for every vector: input columns + ``pq_codes array<int>``.
    One matmul per subspace per Arrow batch; assignment is the portable
    round-6 rule (module docstring) so codes are partitioning-invariant
    and SQL-replayable for any codebook construction."""
    from pyspark.sql.functions import pandas_udf

    m = len(codebooks)
    mats = [np.asarray(b, dtype=np.float64) for b in codebooks]
    d = mats[0].shape[1]

    @pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        V = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        out = np.empty((V.shape[0], m), dtype=np.int32)
        for mi in range(m):
            sub = V[:, mi * d : (mi + 1) * d]
            C = mats[mi]
            vv = np.einsum("ij,ij->i", sub, sub)
            cc = np.einsum("ij,ij->i", C, C)
            d2 = (vv[:, None] - 2.0 * (sub @ C.T)) + cc[None, :]
            out[:, mi] = np.argmin(np.round(d2, 6), axis=1)  # stable: lowest j
        return pd.Series(list(out))

    return df.withColumn("pq_codes", encode(F.col(vec_col)))


def pq_adc_lut(
    codebooks: list[list[list[float]]], probe: list[float]
) -> list[tuple[int, int, float]]:
    """The probe's ADC lookup table: (subspace, code, round-6 partial
    inner product) — m x k_codes rows, driver-held by construction."""
    m = len(codebooks)
    d = len(codebooks[0][0])
    out = []
    for mi in range(m):
        p = np.asarray(probe[mi * d : (mi + 1) * d], dtype=np.float64)
        for j, c in enumerate(codebooks[mi]):
            out.append((mi, j, round(float(np.dot(p, np.asarray(c, dtype=np.float64))), 6)))
    return out


def _dec_array_lit(vals: list[float]) -> Column:
    """Plan-side literal DECIMAL(18,6) array built as ONE SQL expression
    (a single py4j call). The per-element form —
    ``F.array(*[F.lit(v).cast("decimal(18,6)") for v in vals])`` —
    costs 3 py4j roundtrips per element; at m x k_codes + n_centroids
    literals per probe call that was measured as 1.3s -> 4-21s of
    driver-side query-BUILD time (the r18 probe regression). The
    double literal (repr round-trips exactly) cast element-wise to
    decimal(18,6) is the identical Cast the per-element form produced,
    so every score stays bit-identical.

    Non-finite entries (from a NaN/inf codebook, centroid or probe
    component) are refused: ``repr`` would emit ``infD``/``nanD``, which
    is not SQL and fails the build with a ParseException."""
    bad = [v for v in vals if not math.isfinite(v)]
    if bad:
        raise ValueError(
            f"non-finite codebook or probe entry in the ADC table: {bad[0]!r} "
            "(check the codebooks, centroids and probe vector for NaN/inf)"
        )
    body = ", ".join(repr(float(v)) + "D" for v in vals)
    return F.expr(f"CAST(array({body}) AS ARRAY<DECIMAL(18,6)>)")


def pq_adc_scores(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    probe: list[float],
    *,
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, adc_score): sum of the probe LUT partials selected by each
    vector's codes. The LUT is a bounded driver-side constant
    (m x k_codes round-6 values), folded into the plan as per-subspace
    LITERAL decimal arrays indexed by each row's code — no
    createDataFrame job, no broadcast exchange, no posexplode row
    blowup, no per-id hash aggregate (the adc_rerank literal rule;
    guide §2.4). DECIMAL(18,6) terms added exactly, so adc_score is
    bit-identical to the old broadcast-join + decimal-sum form."""
    lut_rows = pq_adc_lut(codebooks, probe)
    by_m: dict[int, dict[int, float]] = {}
    for m, j, part in lut_rows:
        by_m.setdefault(m, {})[j] = part
    adc = None
    for m in sorted(by_m):
        arr = _dec_array_lit([by_m[m][j] for j in sorted(by_m[m])])
        term = F.element_at(arr, F.element_at(F.col("pq_codes"), m + 1) + 1)
        adc = term if adc is None else adc + term
    if adc is None:  # empty codebooks: no scorable subspaces, no rows
        return codes.select(id_col, F.lit(0.0).alias("adc_score")).limit(0)
    return codes.select(id_col, adc.cast("double").alias("adc_score"))


def _centroid_df(spark, cents: list[list[float]]):
    """(ivf_list, _cvec) as a broadcastable frame — the join side of
    residual computation."""
    return spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "ivf_list int, _cvec array<double>",
    )


def pq_residual_codebooks(
    embeddings: DataFrame,
    cents: list[list[float]],
    *,
    m: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
) -> list[list[list[float]]]:
    """Residual-space codebooks for IVFADC (Jegou et al. 2011 §IV):
    the md5-ordered first ``k_codes`` vectors, each residualized to its
    PRIMARY coarse list under ``cents`` (v - c_rank1), sliced per
    subspace — the portable-sample construction of :func:`pq_codebooks`
    moved to residual space. Elementwise float64 subtraction is
    IEEE-exact, so the books replay bit-for-bit in SQL.

    ``refine_iters > 0`` runs PER-SUBSPACE PORTABLE LLOYD on the seed
    (r12 verdict item 5 — the r12 diagnosis measured sample codebooks
    quantizing residual space 3.3x worse than raw space, so training
    them is the recall lever the trained coarse quantizer was): the
    assignment step IS :func:`pq_encode` under the current books (the
    portable round-6 argmin), run over EVERY corpus vector's primary
    residual in one pass covering all m subspaces at once, and the
    update is the decimal-exact round-6 mean per (subspace, code, slot)
    — ivf_train_portable's rule, so the refined books stay bit-portable
    and a SQL oracle unrolls the iterations. Empty codes keep their
    previous entry. Driver holds m x k_codes x (dim/m) round-6 doubles
    per iteration — dim floats total, same footprint as the seed."""
    from pyspark.sql import Window

    spark = embeddings.sparkSession
    if len(cents[0]) % m != 0:
        raise ValueError(
            f"embedding dim {len(cents[0])} not divisible by m={m}: "
            "trailing dimensions would be silently dropped from codes "
            "and ADC scores"
        )
    w = Window.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
    samp = embeddings.withColumn("_rk", F.row_number().over(w)).filter(
        F.col("_rk") <= k_codes
    )
    prim = ivf_assign(samp, cents, vec_col=vec_col, portable=True, spill=1)
    res = (
        prim.join(F.broadcast(_centroid_df(spark, cents)), "ivf_list")
        .withColumn(
            "_resid",
            F.zip_with(F.col(vec_col), F.col("_cvec"), lambda a, b: a - b),
        )
        .orderBy("_rk")
        .select("_resid")
        .collect()
    )
    sample = [list(r._resid) for r in res]
    d = len(sample[0]) // m
    books = [[v[mi * d : (mi + 1) * d] for v in sample] for mi in range(m)]
    if refine_iters == 0:
        return books
    # training residuals: EVERY vector to its primary list, computed
    # once and pinned with localCheckpoint(eager) so each refinement
    # iteration re-reads materialized rows instead of re-running the
    # assignment. localCheckpoint is NOT fault-tolerant (an executor
    # loss loses the blocks and the refinement job with them) — an
    # acceptable trade for an offline index BUILD, which simply
    # retries; a pipeline that must survive executor churn would
    # persist(StorageLevel.MEMORY_AND_DISK) or reliable-checkpoint
    # this frame instead
    res_all = (
        ivf_assign(embeddings, cents, vec_col=vec_col, portable=True, spill=1)
        .join(F.broadcast(_centroid_df(spark, cents)), "ivf_list")
        .withColumn(
            "_resid",
            F.zip_with(F.col(vec_col), F.col("_cvec"), lambda a, b: a - b),
        )
        .select(id_col, "_resid")
        .localCheckpoint(eager=True)
    )
    for _ in range(refine_iters):
        coded = pq_encode(res_all, books, id_col=id_col, vec_col="_resid")
        rows = (
            coded.select(F.posexplode("pq_codes").alias("mi", "j"), "_resid")
            .select(
                "mi",
                "j",
                F.posexplode(
                    F.slice(
                        F.col("_resid"), F.col("mi") * d + 1, d
                    )
                ).alias("pos", "val"),
            )
            .groupBy("mi", "j", "pos")
            .agg(
                F.round(
                    F.sum(
                        F.round(F.col("val").cast("double"), 6).cast(
                            "decimal(28,12)"
                        )
                    ).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("m")
            )
            .collect()
        )
        refined: dict[tuple[int, int], dict[int, float]] = {}
        for r in rows:
            refined.setdefault((r.mi, r.j), {})[r.pos] = float(r.m)
        books = [
            [
                [refined[(mi, j)][p] for p in range(d)]
                if (mi, j) in refined
                else books[mi][j]
                for j in range(k_codes)
            ]
            for mi in range(m)
        ]
    return books


def adc_rerank(
    embeddings: DataFrame,
    coded: DataFrame,
    books: list[list[list[float]]],
    cents: list[list[float]],
    probe: list[float],
    *,
    k: int,
    k_cand: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    list_col: str = "ivf_list",
    dup_bound: int = 1,
) -> DataFrame:
    """IVFADC scoring tail, ONE definition site (r13 review finding —
    the inline query and the persisted-index probe previously carried
    verbatim copies whose portable rules could silently drift): ADC =
    Σ LUT[m, code] + round(q·c_primary, 6) over ``coded`` (rows with
    ``pq_codes`` and their primary list in ``list_col``), both terms
    exact decimals; top-``k_cand`` shortlist; exact cosine re-rank of
    the shortlist rows against ``embeddings``.

    The LUT and the q·c table are bounded driver-side constants
    (m x k_codes and n_centroids rows), so both are folded into the
    plan as LITERAL decimal arrays indexed per row — no createDataFrame
    jobs, no broadcast exchanges, no posexplode (x m row blowup), no
    per-id hash aggregate (guide §2.4/§3.1: the joins moved only
    constants). Every term is the same exact round-6 decimal the old
    broadcast-join form produced (double literal -> decimal(18,6) cast,
    decimal addition exact), so adc_score is bit-identical."""
    import numpy as np

    # Σ_m LUT[m, pq_codes[m]]: one element_at per subspace over a
    # per-subspace literal array (codes are 0-based by construction),
    # each array ONE SQL expression (see _dec_array_lit)
    lut_rows = pq_adc_lut(books, probe)
    by_m: dict[int, dict[int, float]] = {}
    for m, j, part in lut_rows:
        by_m.setdefault(m, {})[j] = part
    adc = None
    for m in sorted(by_m):
        arr = _dec_array_lit([by_m[m][j] for j in sorted(by_m[m])])
        term = F.element_at(arr, F.element_at(F.col("pq_codes"), m + 1) + 1)
        adc = term if adc is None else adc + term
    # round-6 q·c_primary, indexed by the (0-based) primary list id
    qp = np.asarray(probe, dtype=np.float64)
    qc_arr = _dec_array_lit(
        [
            round(float(np.dot(qp, np.asarray(c, dtype=np.float64))), 6)
            for c in cents
        ]
    )
    qc = F.element_at(qc_arr, F.col(list_col) + 1)
    score = qc if adc is None else adc + qc
    # ``dup_bound`` > 1: ``coded`` may carry up to that many rows per id
    # (spill replicas with IDENTICAL (list_col, pq_codes) payloads, so
    # identical scores). Deduping first costs a corpus-side shuffle
    # (sort-aggregate over the array payload); instead take the
    # top-(k_cand * dup_bound) rows map-side (TakeOrderedAndProject, no
    # exchange) and dedup THAT bounded set. Exactness: with <=
    # ``dup_bound`` copies per id, excluding the k_cand-th distinct id
    # from the top-(k_cand * dup_bound) rows would need more than
    # k_cand*dup_bound earlier rows — impossible with <= dup_bound
    # copies of each of the k_cand-1 earlier ids — so the distinct set
    # of the widened prefix contains exactly the dedup-first shortlist,
    # and the (score desc, id asc) order has no cross-id ties to break
    # differently (replica rows are byte-identical).
    scored = coded.select(id_col, score.cast("double").alias("adc_score"))
    shortlist = scored.orderBy(F.desc("adc_score"), F.asc(id_col)).limit(
        k_cand * max(1, dup_bound)
    )
    if dup_bound > 1:
        shortlist = (
            shortlist.dropDuplicates([id_col])
            .orderBy(F.desc("adc_score"), F.asc(id_col))
            .limit(k_cand)
        )
    probe_col = F.array(*[F.lit(float(x)) for x in probe])
    return (
        embeddings.join(shortlist.select(id_col), id_col, "left_semi")
        .select(
            id_col,
            F.round(cosine(F.col(vec_col), probe_col), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def ivfadc_residual_topk(
    embeddings: DataFrame,
    probe: list[float],
    *,
    k: int = 10,
    n_centroids: int = 128,
    n_probe: int = 24,
    spill: int = 2,
    m: int = 8,
    k_codes: int = 16,
    k_cand: int = 40,
    refine_iters: int = 2,
    book_refine_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """IVFADC with RESIDUAL encoding over a PORTABLE-LLOYD coarse
    quantizer — the full Jegou composition, engine-portable end to end:

    - coarse quantizer: ``ivf_train_portable`` (md5 seed + round-6
      decimal-exact Lloyd means; similarity.py) — the piece that makes
      residuals pay: sampled centroids leave ~89% of vector energy in
      the residual and residual recall DROPS below raw PQ (measured,
      BASELINE.md r12), while two trained iterations concentrate the
      lists and lift recall past both;
    - candidates: spill-``spill`` entries of the ``n_probe`` probed
      lists (the ann_ivf/ann_ivfpq machinery);
    - encoding: each candidate's residual to its PRIMARY list,
      quantized with residual-space sample codebooks
      (:func:`pq_residual_codebooks`) by the portable round-6 argmin;
    - ADC: score = round(q·c_primary, 6) + Σ_m LUT[m, code], both terms
      exact decimals (the IVFADC inner-product identity
      q·v ≈ q·c + q·r̂) — the coarse term re-ranks ACROSS lists, which
      raw-PQ ADC cannot do;
    - exact cosine re-rank of the top-``k_cand`` shortlist.

    Scale: identical movement pattern to :func:`ivfpq_topk` — codes
    resident, one m x k_codes LUT + one n_centroids q·c table broadcast
    per probe, float vectors touched only for the shortlist."""
    cents = ivf_train_portable(
        embeddings, n_centroids=n_centroids, refine_iters=refine_iters,
        id_col=id_col, vec_col=vec_col,
    )
    if cents and len(probe) != len(cents[0]):
        raise ValueError(f"probe dim {len(probe)} != embedding dim {len(cents[0])}")
    spark = embeddings.sparkSession
    plists = ivf_probe_lists(cents, probe, n_probe, portable=True)
    # ONE ranked assignment pass serves both roles (the corpus-sized
    # matmul is the dominant cost — r12 review finding 6): any-rank
    # rows in probed lists discover candidates; rank-0 rows are the
    # spill=1 primary assignment (stable-argsort prefix property).
    # localCheckpoint: both consumers sit in the returned lazy plan, so
    # without a barrier the matmul would still run twice at collect
    # time (an index BUILD at scale persists this to storage instead).
    assigned = ivf_assign(
        embeddings, cents, vec_col=vec_col, portable=True, spill=spill,
        rank_col="_ivf_rank",
    ).localCheckpoint(eager=True)
    cand_ids = (
        assigned.filter(F.col("ivf_list").isin(plists)).select(id_col).distinct()
    )
    if exclude_id is not None:
        cand_ids = cand_ids.filter(F.col(id_col) != exclude_id)
    # every candidate encodes its residual to its PRIMARY list (the
    # build-time artifact), whichever probed list discovered it
    prim = assigned.filter(F.col("_ivf_rank") == 0).drop("_ivf_rank")
    cand = prim.join(cand_ids, id_col, "left_semi")
    cand_res = cand.join(F.broadcast(_centroid_df(spark, cents)), "ivf_list").withColumn(
        "_resid", F.zip_with(F.col(vec_col), F.col("_cvec"), lambda a, b: a - b)
    )
    books = pq_residual_codebooks(
        embeddings, cents, m=m, k_codes=k_codes, id_col=id_col,
        vec_col=vec_col, refine_iters=book_refine_iters,
    )
    coded = pq_encode(cand_res, books, id_col=id_col, vec_col="_resid")
    return adc_rerank(
        embeddings, coded, books, cents, probe, k=k, k_cand=k_cand,
        id_col=id_col, vec_col=vec_col, list_col="ivf_list",
    )


def ivfpq_topk(
    embeddings: DataFrame,
    probe: list[float],
    *,
    k: int = 10,
    n_centroids: int = 128,
    n_probe: int = 24,
    spill: int = 2,
    m: int = 8,
    k_codes: int = 16,
    k_cand: int = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
    portable: bool = True,
    refine_iters: int = 2,
) -> DataFrame:
    """IVF-PQ approximate top-k (module docstring): coarse lists prune,
    ADC over codes ranks, exact cosine re-ranks the ``k_cand``
    shortlist. The inline form encodes only the pruned candidates
    (code-identical to encoding at build time — assignment is per-vector
    independent); the persisted split writes codes partitioned by list
    at build and scans codes-only at probe (ivf_build_index's shape)."""
    cents = (
        ivf_centroids(
            embeddings, n_centroids=n_centroids, id_col=id_col,
            vec_col=vec_col, hash_mode="md5",
        )
        if portable
        else ivf_train(
            embeddings, n_centroids=n_centroids, refine_iters=refine_iters,
            id_col=id_col, vec_col=vec_col,
        )
    )
    if cents and len(probe) != len(cents[0]):
        raise ValueError(f"probe dim {len(probe)} != embedding dim {len(cents[0])}")
    plists = ivf_probe_lists(cents, probe, n_probe, portable=portable)
    assigned = ivf_assign(
        embeddings, cents, vec_col=vec_col, portable=portable, spill=spill
    )
    cand = assigned.filter(F.col("ivf_list").isin(plists))
    if exclude_id is not None:
        cand = cand.filter(F.col(id_col) != exclude_id)
    if spill > 1:
        cand = cand.dropDuplicates([id_col])
    books = pq_codebooks(
        embeddings, m=m, k_codes=k_codes, id_col=id_col, vec_col=vec_col,
        portable=portable, refine_iters=refine_iters,
    )
    coded = pq_encode(cand, books, id_col=id_col, vec_col=vec_col)
    shortlist = (
        pq_adc_scores(coded, books, probe, id_col=id_col)
        .orderBy(F.desc("adc_score"), F.asc(id_col))
        .limit(k_cand)
    )
    probe_col = F.array(*[F.lit(float(x)) for x in probe])
    return (
        embeddings.join(shortlist.select(id_col), id_col, "left_semi")
        .select(
            id_col,
            F.round(cosine(F.col(vec_col), probe_col), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )
