"""Tier 22 — iterative ML loops behind the EXACT oracle gate.

Continues the tier-20/21 program (pagerank_exact, minhash_lsh_exact):
take an algorithm the engine ships as a rows-only operator because
float iteration order makes cross-engine equality hopeless, and
re-express it so every accumulation is exact integer arithmetic —
then chain the SAME rounds as DuckDB CTEs and demand a full
rows+schema+value-hash match.

* kmeans_exact — two complete Lloyd iterations (assign + centroid
  update) over integer-quantized embeddings, vs an oracle that
  chains assignment/update CTEs.
* mmr_exact — the full greedy Maximal-Marginal-Relevance selection
  loop on integer inner products, vs an oracle that chains one CTE
  per selection round.

Quantization contract (see cross-engine-float-parity rules): inputs
are snapped to an integer grid with floor(x*Q + 0.5) — float32 ->
double widening is exact, the floor idiom is engine-identical — and
every subsequent comparison/sum is BIGINT, so ties and argmins are
decided identically everywhere. The only doubles are single
divisions of exact integers (correctly rounded, identical on both
sides) immediately re-floored to the grid.
"""
from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..session import local_frame, pin
from .registry import query

_DIM = 64           # embedding dimensionality (FIXTURES.md)
_Q = 1000           # quantization grid: |component| <= ~0.58 -> <=578

_KM_K = 8           # clusters
_KM_ITERS = 2       # full Lloyd rounds behind the gate

_QV_SPARK = (f"transform(embedding, x -> cast(floor(cast(x as double)"
             f" * {_Q} + 0.5d) as bigint))")

_QV_SQL = (f"list_transform(embedding, x -> CAST(floor("
           f"CAST(x AS DOUBLE) * {_Q} + 0.5) AS BIGINT))")

_QV_CTE = f"""qv AS MATERIALIZED (
      SELECT vec_id, {_QV_SQL} AS qv FROM embeddings
    )"""


def _head(vecs: DataFrame, n: int) -> dict[int, list[int]]:
    """vec_id -> quantized vector for the vec_ids below ``n``: the
    driver-side index metadata (init centroids, codebooks, query)."""
    return {int(r["vec_id"]): [int(x) for x in r["qv"]]
            for r in vecs.filter(F.col("vec_id") < n).collect()}


def _sq_l2(c: Column) -> Column:
    """BIGINT squared L2 distance from ``qv`` to the array ``c``."""
    return F.aggregate(
        F.zip_with("qv", c, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"), lambda acc, v: acc + v)


def _nearest(cents: list[list[int]]) -> Column:
    """0-based index of the row of ``cents`` nearest to ``qv``: an
    integer argmin (ties to the lowest index, array_position's first
    minimum) against the k x dim centroids inlined as one parsed
    BIGINT literal — a narrow map, no shuffle."""
    cent_lit = F.expr("array(%s)" % ",".join(
        "array(%s)" % ",".join(f"{x}L" for x in c) for c in cents))
    dists = F.transform(cent_lit, _sq_l2)
    return (F.array_position(dists, F.array_min(dists)) - 1) \
        .cast("bigint")


def _km_round_sql(r: int) -> str:
    """One Lloyd round as chained CTEs over per-dim centroid rows
    c{r-1}(cid, dim, c): distance cross-sum -> argmin assignment ->
    per-(cid, dim) sums -> densified quantized centroid update."""
    return f""", d{r} AS (
      SELECT v.vec_id, c.cid,
             SUM((v.qv[c.dim + 1] - c.c) * (v.qv[c.dim + 1] - c.c))
                 AS dist
      FROM qv v CROSS JOIN c{r - 1} c
      GROUP BY 1, 2
    ), a{r} AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cid) AS rn
        FROM d{r})
      WHERE rn = 1
    ), s{r} AS (
      SELECT a.cid, t.i AS dim,
             CAST(SUM(v.qv[t.i + 1]) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM a{r} a
      JOIN qv v ON v.vec_id = a.vec_id
      CROSS JOIN (SELECT unnest(range({_DIM})) AS i) t
      GROUP BY 1, 2
    ), c{r} AS (
      SELECT p.cid, p.dim,
             COALESCE(CAST(floor(CAST(s.s AS DOUBLE) / s.n + 0.5)
                           AS BIGINT), p.c) AS c
      FROM c{r - 1} p
      LEFT JOIN s{r} s ON s.cid = p.cid AND s.dim = p.dim
    )"""


_KM_ORACLE = f"""
    WITH {_QV_CTE}, c0 AS (
      SELECT vec_id AS cid, t.i AS dim, qv[t.i + 1] AS c
      FROM qv CROSS JOIN (SELECT unnest(range({_DIM})) AS i) t
      WHERE vec_id < {_KM_K}
    )""" + "".join(_km_round_sql(r)
                   for r in range(1, _KM_ITERS + 1)) + f"""
    SELECT p.cid, CAST(p.dim AS BIGINT) AS dim, p.c AS c_val,
           COALESCE(nn.n, 0) AS n
    FROM c{_KM_ITERS} p
    LEFT JOIN (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n
               FROM a{_KM_ITERS} GROUP BY 1) nn ON nn.cid = p.cid
    """


@query("kmeans_exact", oracle=_KM_ORACLE)
def kmeans_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two COMPLETE Lloyd's k-means iterations behind the exact
    oracle gate (k={k}, init = the {k} lowest vec_ids): assignment is
    an integer argmin over quantized squared distances (ties to the
    lowest centroid id on both engines — array_position's first
    maximum here, (dist, cid) row_number there), and the centroid
    update re-snaps each mean to the integer grid with
    floor(s/n + 0.5) — one correctly-rounded int/int division, no
    float accumulation anywhere. DuckDB chains the identical rounds
    as CTEs; output is the final centroid table (cid, dim, c_val)
    plus final-assignment cluster sizes — 512 integer rows.

    Upgrades the k-means ALGORITHM from the rows-only
    `kmeans_topics` (operators/kmeans.py keeps the float production
    path) to full cross-engine certification — the loop, the
    argmin, the empty-cluster carry-forward, everything.

    Scale: per round, assignment is a narrow map against k x dim
    BROADCAST LITERAL centroids (the ivf_assign pattern — one parsed
    SQL literal, no py4j storm, no shuffle), and the update is one
    posexplode + groupBy(cid, dim) with map-side partial aggregation
    (k*dim = 512 groups). The only driver traffic is the k x dim
    integer centroid matrix per round — index metadata, same posture
    as operators/kmeans.py.

    The last round already holds the answer: its (cid, dim) sums
    carry each cluster's size as `n` (a cluster with no rows there
    is empty, n = 0), so no second groupBy re-runs the final
    assignment, and the 512 rows go back as a `local_frame` (a JVM
    LocalTableScan). A pass is 7 jobs: the pin, the init collect, 2
    per round, and the consumer's, plus the parquet schema inference
    on the first read of a file version (8 jobs cold). Measured on a
    4-core host: 12 -> 8 jobs, perfbench `iterative` pass 2.30 ->
    1.24 s."""
    em = load(spark, sf_dir, "embeddings")
    vecs = pin(em.select("vec_id", F.expr(_QV_SPARK).alias("qv")))
    # keyed by cid and read in sorted(cents) order: no orderBy needed
    cents = _head(vecs, _KM_K)

    sizes: dict[int, int] = {}
    for _ in range(_KM_ITERS):
        assigned = vecs.select(
            "vec_id", "qv",
            _nearest([cents[cid] for cid in sorted(cents)]).alias("cid"))
        sums = (assigned
                .select("cid", F.posexplode("qv").alias("dim", "x"))
                .groupBy("cid", "dim")
                .agg(F.sum("x").cast("bigint").alias("s"),
                     F.count(F.lit(1)).cast("bigint").alias("n"))
                .collect())
        new = dict(cents)               # empty cluster keeps its mean
        for cid in set(int(r["cid"]) for r in sums):
            new[cid] = list(cents[cid])
        for r in sums:
            # same arithmetic as the oracle: one int/int double
            # division, then the floor idiom back onto the grid
            new[int(r["cid"])][int(r["dim"])] = int(
                math.floor(r["s"] / r["n"] + 0.5))
        cents = new
        # every (cid, dim) row of a cluster counts all its members
        sizes = {int(r["cid"]): int(r["n"]) for r in sums}

    # n is NOT NULL: a cluster that lost every member reports 0
    return local_frame(
        spark,
        [(cid, dim, cents[cid][dim], sizes.get(cid, 0))
         for cid in sorted(cents) for dim in range(_DIM)],
        "cid long, dim long, c_val long, n long not null")


kmeans_exact.__doc__ = kmeans_exact.__doc__.format(k=_KM_K)


# ---------------------------------------------------------------------------
# mmr_exact
# ---------------------------------------------------------------------------

_MMR_NCAND = 24     # candidate pool: vec_id 1..24 (query = vec 0)
_MMR_SEL = 5        # greedy selection rounds
_MMR_LAM7 = 7       # lambda = 0.7 carried as integers: 7*rel - 3*div
_MMR_LAM3 = 3

_MMR_DOT = (f"CAST(list_sum(list_transform(range({_DIM}),"
            f" i -> a.qv[i + 1] * b.qv[i + 1])) AS BIGINT)")


def _mmr_round_sql(r: int) -> str:
    """One greedy MMR round: score the unselected candidates against
    the selected set's max inner product, pick the argmax (ties to
    the lowest vec_id), append to the selection."""
    return f""", p{r} AS (
      SELECT rl.vec_id,
             {_MMR_LAM7} * rl.rel - {_MMR_LAM3} * MAX(d.d) AS score
      FROM rel rl
      JOIN div d ON d.j = rl.vec_id
      JOIN sel{r - 1} s ON s.vec_id = d.k
      WHERE rl.vec_id NOT IN (SELECT vec_id FROM sel{r - 1})
      GROUP BY rl.vec_id, rl.rel
    ), pick{r} AS (
      SELECT CAST({r} AS BIGINT) AS rank, vec_id, score
      FROM p{r} ORDER BY score DESC, vec_id LIMIT 1
    ), sel{r} AS (
      SELECT vec_id FROM sel{r - 1}
      UNION ALL SELECT vec_id FROM pick{r}
    )"""


_MMR_ORACLE = f"""
    WITH qv AS MATERIALIZED (
      SELECT vec_id, {_QV_SQL} AS qv FROM embeddings
      WHERE vec_id <= {_MMR_NCAND}
    ), rel AS (
      SELECT b.vec_id, {_MMR_DOT} AS rel
      FROM qv a CROSS JOIN qv b
      WHERE a.vec_id = 0 AND b.vec_id >= 1
    ), div AS (
      SELECT a.vec_id AS j, b.vec_id AS k, {_MMR_DOT} AS d
      FROM qv a CROSS JOIN qv b
      WHERE a.vec_id >= 1 AND b.vec_id >= 1
        AND a.vec_id <> b.vec_id
    ), pick1 AS (
      SELECT CAST(1 AS BIGINT) AS rank, vec_id,
             {_MMR_LAM7} * rel AS score
      FROM rel ORDER BY score DESC, vec_id LIMIT 1
    ), sel1 AS (
      SELECT vec_id FROM pick1
    )""" + "".join(_mmr_round_sql(r)
                   for r in range(2, _MMR_SEL + 1)) + f"""
    SELECT * FROM pick1
    {"".join(f" UNION ALL SELECT * FROM pick{r}"
             for r in range(2, _MMR_SEL + 1))}
    """


@query("mmr_exact", oracle=_MMR_ORACLE)
def mmr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL greedy Maximal-Marginal-Relevance loop behind the
    exact oracle gate: query = vec 0, candidates = vecs 1..{nc},
    {ns} selection rounds of argmax(7*rel - 3*max-div-to-selected)
    over integer inner products of grid-quantized embeddings, ties
    to the lowest vec_id. DuckDB chains one CTE per round; the
    emitted (rank, vec_id, score) triples must match hash-exactly —
    certifying the greedy argmax, the max-diversity fold, and the
    tie policy, which the rows-only `mmr_rerank`
    (operators/knn.py:235, float cosines) cannot.

    Integer contract: inner products of quantized components are
    BIGINT (<= 64 * 578^2 ~ 2.1e7); lambda = 0.7 is carried as the
    integer pair (7, 3) so scores never touch a float.

    Scale: MMR is a RERANK op — the candidate pool is bounded per
    query by construction (here {nc}; production reranks <= 100 per
    query inside applyInPandas groups). The per-round argmax ships
    ONE row to the driver to gate the next round, the same
    bounded-decision pattern as `bpe_merge_train`; rel/div frames
    are candidate-pool-sized and pinned once."""
    em = load(spark, sf_dir, "embeddings")
    vecs = (em.filter(F.col("vec_id") <= _MMR_NCAND)
              .select("vec_id", F.expr(_QV_SPARK).alias("qv")))
    [q0] = vecs.filter(F.col("vec_id") == 0).collect()
    q0_lit = F.expr("array(%s)" % ",".join(f"{int(x)}L"
                                           for x in q0["qv"]))

    def _dot(other):
        return F.aggregate(
            F.zip_with("qv", other, lambda x, y: x * y),
            F.lit(0).cast("bigint"), lambda acc, v: acc + v)

    cand = vecs.filter(F.col("vec_id") >= 1)
    rel = pin(cand.select("vec_id", _dot(q0_lit).alias("rel")))
    a, b = cand.alias("a"), cand.alias("b")
    div = pin(a.join(b, F.col("a.vec_id") != F.col("b.vec_id"))
               .select(F.col("a.vec_id").alias("j"),
                       F.col("b.vec_id").alias("k"),
                       F.aggregate(
                           F.zip_with("a.qv", "b.qv",
                                      lambda x, y: x * y),
                           F.lit(0).cast("bigint"),
                           lambda acc, v: acc + v).alias("d")))

    sel: list[int] = []
    picks: list[tuple[int, int, int]] = []
    for r in range(1, _MMR_SEL + 1):
        if r == 1:
            scores = rel.select(
                "vec_id", (F.lit(_MMR_LAM7) * F.col("rel"))
                .alias("score"))
        else:
            scores = (div.filter(F.col("k").isin(sel)
                                 & ~F.col("j").isin(sel))
                         .groupBy("j").agg(F.max("d").alias("md"))
                         .join(rel, F.col("j") == F.col("vec_id"))
                         .select("vec_id",
                                 (F.lit(_MMR_LAM7) * F.col("rel")
                                  - F.lit(_MMR_LAM3) * F.col("md"))
                                 .alias("score")))
        top = scores.orderBy(F.desc("score"), "vec_id").first()
        sel.append(int(top["vec_id"]))
        picks.append((r, int(top["vec_id"]), int(top["score"])))
    return local_frame(spark, picks, "rank long, vec_id long, score long")


mmr_exact.__doc__ = mmr_exact.__doc__.format(nc=_MMR_NCAND,
                                             ns=_MMR_SEL)


# ---------------------------------------------------------------------------
# ann_pq_exact
# ---------------------------------------------------------------------------

_PQ_M = 8       # subspaces
_PQ_D = 8       # dims per subspace (M * D = _DIM)
_PQ_K = 16      # codes per subspace: codebook = subvectors of vecs 0..15
_PQ_TOPN = 10


# the PQ CTEs: codebooks `cb`, subdistances `sd`, codes `enc`
_PQ_CTES = f"""cb AS (
      SELECT t.s, v.vec_id AS c, d.d,
             v.qv[{_PQ_D} * t.s + d.d] AS val
      FROM qv v
      CROSS JOIN (SELECT unnest(range({_PQ_M})) AS s) t
      CROSS JOIN (SELECT unnest(range(1, {_PQ_D} + 1)) AS d) d
      WHERE v.vec_id < {_PQ_K}
    ), sd AS (
      SELECT v.vec_id, b.s, b.c,
             SUM((v.qv[{_PQ_D} * b.s + b.d] - b.val)
                 * (v.qv[{_PQ_D} * b.s + b.d] - b.val)) AS dist
      FROM qv v CROSS JOIN cb b
      GROUP BY 1, 2, 3
    ), enc AS (
      SELECT vec_id, s, c FROM (
        SELECT vec_id, s, c,
               row_number() OVER (PARTITION BY vec_id, s
                                  ORDER BY dist, c) AS rn
        FROM sd)
      WHERE rn = 1
    )"""

_PQ_ORACLE = f"""
    WITH {_QV_CTE}, {_PQ_CTES}, adc AS (
      SELECT e.vec_id, CAST(SUM(q.dist) AS BIGINT) AS adc_dist
      FROM enc e
      JOIN (SELECT s, c, dist FROM sd WHERE vec_id = 0) q
        ON q.s = e.s AND q.c = e.c
      GROUP BY 1
    )
    SELECT vec_id, adc_dist FROM adc
    WHERE vec_id <> 0
    ORDER BY adc_dist, vec_id LIMIT {_PQ_TOPN}
    """


def _pq_tables(head: dict[int, list[int]]):
    """``(cbs, tq)``: codebook ``cbs[s][c]`` is the 8-dim subvector
    ``s`` of vec ``c``; ``tq[s][c]`` is the query's (vec 0) integer
    subdistance to that code, the oracle's ``sd`` rows for vec 0."""
    cbs = [[head[c][_PQ_D * s:_PQ_D * (s + 1)]
            for c in range(_PQ_K)] for s in range(_PQ_M)]
    q0 = head[0]
    tq = [[sum((q0[_PQ_D * s + d] - cbs[s][c][d]) ** 2
               for d in range(_PQ_D))
           for c in range(_PQ_K)] for s in range(_PQ_M)]
    return cbs, tq


def _pq_sub_dists(cb: list[list[int]], s: int) -> Column:
    """BIGINT squared distances from subspace ``s`` of ``qv`` to each
    code of the literal codebook ``cb``."""
    cb_lit = "array(%s)" % ",".join(
        "array(%s)" % ",".join(f"{x}L" for x in cw) for cw in cb)
    return F.expr(
        f"transform({cb_lit}, cw -> aggregate("
        f" zip_with(slice(qv, {_PQ_D * s + 1}, {_PQ_D}), cw,"
        "  (x, y) -> (x - y) * (x - y)),"
        " cast(0 as bigint), (a, b) -> a + b))")


@query("ann_pq_exact", oracle=_PQ_ORACLE)
def ann_pq_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN behind the exact oracle gate: 8
    subspaces x 8 dims, 16-code codebooks taken from the subvectors
    of vecs 0..15 (fixed, training-free — tier-22's kmeans_exact
    already certifies the training loop separately), every vector
    PQ-ENCODED by integer argmin per subspace (ties to the lowest
    code), and the query's top-{n} retrieved by Asymmetric Distance
    Computation — summing the query's precomputed integer
    subdistances at each vector's codes. Every distance is BIGINT;
    the (adc, vec_id) order is total, so the top-{n} set and order
    are engine-identical. Upgrades the PQ ALGORITHM from the
    recall-tested `ann_pq_knn` (operators/pq.py keeps the float
    production path) to full cross-engine certification.

    Scale: the Spark side never materializes the N x (s, c) distance
    relation the oracle uses — encoding is a NARROW MAP against
    M*K*D = 1024 literal ints (the ivf_assign one-parsed-literal
    pattern), the ADC lookup is element_at into an M x K literal
    table, and the only ordering is a global sort-limit (TakeOrdered,
    no window). Driver traffic: the 17 codebook/query rows, once."""
    em = load(spark, sf_dir, "embeddings")
    vecs = em.select("vec_id", F.expr(_QV_SPARK).alias("qv"))
    head = _head(vecs, _PQ_K)
    if len(head) < _PQ_K:
        raise ValueError("ann_pq_exact: need vec_ids 0..%d present"
                         % (_PQ_K - 1))
    cbs, tq = _pq_tables(head)

    adc = None
    for s in range(_PQ_M):
        sub = _pq_sub_dists(cbs[s], s)
        code = (F.array_position(sub, F.array_min(sub))).cast("int")
        tq_lit = F.expr("array(%s)" % ",".join(
            f"{x}L" for x in tq[s]))
        term = F.element_at(tq_lit, code)
        adc = term if adc is None else adc + term
    return (vecs.select("vec_id", adc.cast("bigint").alias("adc_dist"))
                .filter(F.col("vec_id") != 0)
                .orderBy("adc_dist", "vec_id")
                .limit(_PQ_TOPN))


# ---------------------------------------------------------------------------
# ivf_probe_exact
# ---------------------------------------------------------------------------

_IVF_K = 8      # cells (centroids = vecs 0..7, training-free)
_IVF_NPROBE = 2
_IVF_TOPN = 10

_IVF_DIST = ("list_reduce(list_transform(range({dim}),"
             " i -> ({a}[i + 1] - {b}[i + 1])"
             " * ({a}[i + 1] - {b}[i + 1])), (x, y) -> x + y)")


# cells (`cents`), the query (`q`), every vector's cell (`asg`) and
# the query's probed cells (`probes`)
_IVF_CTES = f"""cents AS (
      SELECT vec_id AS cid, qv AS cv FROM qv WHERE vec_id < {_IVF_K}
    ), q AS (
      SELECT qv AS qq FROM qv WHERE vec_id = 0
    ), asg AS (
      SELECT vec_id, cid FROM (
        SELECT v.vec_id, c.cid,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 {_IVF_DIST.format(dim=_DIM, a='v.qv', b='c.cv')},
                 c.cid) AS rn
        FROM qv v CROSS JOIN cents c)
      WHERE rn = 1
    ), probes AS (
      SELECT cid FROM (
        SELECT c.cid,
               row_number() OVER (ORDER BY
                 {_IVF_DIST.format(dim=_DIM, a='q.qq', b='c.cv')},
                 c.cid) AS rn
        FROM cents c CROSS JOIN q)
      WHERE rn <= {_IVF_NPROBE}
    )"""

_IVF_ORACLE = f"""
    WITH {_QV_CTE}, {_IVF_CTES}
    SELECT v.vec_id,
           CAST({_IVF_DIST.format(dim=_DIM, a='v.qv', b='q.qq')}
                AS BIGINT) AS dist,
           a.cid
    FROM qv v
    JOIN asg a ON a.vec_id = v.vec_id
    JOIN probes p ON p.cid = a.cid
    CROSS JOIN q
    WHERE v.vec_id <> 0
    ORDER BY dist, v.vec_id LIMIT {_IVF_TOPN}
    """


def _ivf_probes(head: dict[int, list[int]]) -> list[int]:
    """The query's (vec 0) nearest cells: same integer arithmetic and
    (dist, cid) tie rule as the oracle's ``probes`` window, computed
    on the driver from the cell heads."""
    q0 = head[0]
    return [c for _, c in sorted(
        (sum((a - b) * (a - b) for a, b in zip(q0, head[c])), c)
        for c in range(_IVF_K))[:_IVF_NPROBE]]


@query("ivf_probe_exact", oracle=_IVF_ORACLE)
def ivf_probe_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete IVF-ANN search path behind the exact oracle gate:
    every vector is assigned to its nearest of {k} cells by integer
    argmin (ties to the lowest cell id), the query probes its
    {np} nearest cells, and the top-{n} neighbors come from an EXACT
    integer distance scan over only the probed cells — assignment,
    cell pruning and refinement all hash-certified (the rows-only
    `ann_ivf_knn` keeps the float production operator with its
    recall-floor tests, operators/knn.py).

    Scale: assignment is the ivf_assign broadcast-literal narrow map
    (no shuffle); the probe set is decided from k centroid rows of
    driver metadata; the refine scan touches ~nprobe/k of the corpus
    via a partition-prunable cid filter and ends in TakeOrdered —
    no window, no all-pairs."""
    em = load(spark, sf_dir, "embeddings")
    vecs = em.select("vec_id", F.expr(_QV_SPARK).alias("qv"))
    head = _head(vecs, _IVF_K)
    if 0 not in head or len(head) < _IVF_K:
        raise ValueError("ivf_probe_exact: need vec_ids 0..%d"
                         % (_IVF_K - 1))
    probes = _ivf_probes(head)
    q_lit = F.expr("array(%s)" % ",".join(f"{x}L" for x in head[0]))
    return (vecs
            .withColumn("cid", _nearest([head[c] for c in range(_IVF_K)]))
            .filter(F.col("cid").isin([int(p) for p in probes])
                    & (F.col("vec_id") != 0))
            .select("vec_id", _sq_l2(q_lit).alias("dist"), "cid")
            .orderBy("dist", "vec_id")
            .limit(_IVF_TOPN))
