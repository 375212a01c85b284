"""The DuckDB reference program of every codebook lifecycle query.

Each oracle is one unrolled SQL program over ``embeddings``: the
5-iteration Lloyd chain (``iterative._kmeans_cte``) over the fit
corpus, the rank-chunk capacity split and fine codebook
(``_split_ctes``), then a two-level probe program built from the same
pieces as ``index/probe.py``:

- the probe batch, quantized, plus its coarse distances;
- a rank-1 or rank-<=n coarse assignment and the fine argmin under it;
- full-vector membership (the quantized members of the assigned fine
  cell) or ADC membership (the PQ codebook trained over the members,
  their codes, ADC distances and the top-``_PQ_RERANK`` exact verify);
- a verdict tail (one novelty row per probed vector) or a recall tail
  (detected vs brute-force truth over a bounded panel).

A lifecycle is checked against the from-scratch program its end state
must equal: a refit against one clean fit over the grown corpus, a
tombstone refit against one clean fit over the survivors, a serving
probe through the pointer against the same fit probed directly.  So a
whole verb script is graded by one value hash.

Every registered text is pinned byte for byte
(``plans/golden/oracles.json``); the pieces reproduce the proven texts,
including their small spelling differences (the single-line and
two-line midpoint subqueries, the ADC multiprobe's cell tie-break).
"""

from __future__ import annotations

from awsbatch_mapreduce_spark.index.codebook import _CAP, _CAP_STEP, _PQ_K, _PQ_SUB
from awsbatch_mapreduce_spark.index.probe import (
    _NO_PEER_BP,
    _PQ_RERANK,
    _SEMDEDUP_EPS_BP,
)
from awsbatch_mapreduce_spark.plans.iterative import _kmeans_cte

# Every rank-2 program (multiprobe, recall eval, pointer serving).
_NPROBE = 2
# The cap a quality-escalated refit fits at.
_ESCALATED_CAP = _CAP * _CAP_STEP
# Every _TOMB_MOD-th member id is tombstoned: ~20% of the seen half,
# dense enough to flip verdicts while every fine cell keeps survivors.
_TOMB_MOD = 5
# Recall panels: (mid, mid + _PANEL], or the top-_PANEL of the new half
# by md5(vec_id) for the sweep (a fixed-size unbiased sample).
_PANEL = 256
_SWEEP_NPROBES = (1, 2, 4)

# The vec_id halves and quarters: mid = (MIN + MAX) // 2, q3 = (mid +
# MAX) // 2 — integer floor division on positive ids, so the runner's
# driver-side scalars agree exactly.
_MID_SQL = "(SELECT (MIN(vec_id) + MAX(vec_id)) // 2 FROM embeddings)"
_MID_BOUNDARY = (
    "(SELECT (MIN(vec_id) + MAX(vec_id)) // 2\n"
    "                      FROM embeddings)"
)
_Q3_SQL = (
    "(SELECT ((MIN(vec_id) + MAX(vec_id)) // 2 + MAX(vec_id)) // 2"
    " FROM embeddings)"
)


def _live(alias: str = "") -> str:
    """The tombstone predicate: members that survive the deletion."""
    return f" AND ({alias}vec_id % {_TOMB_MOD}) <> 0"


def _corpus(upper: str, live: str = "") -> str:
    return f"(SELECT * FROM embeddings WHERE vec_id <= {upper}{live})"


# Fit corpora: the seen half, the grown corpus (the seen half plus the
# admitted quarter), and the seen half minus the tombstoned ids.
_SEEN_SRC = _corpus(_MID_SQL)
_GROWN_SRC = _corpus(_Q3_SQL)
_SURVIVOR_SRC = _corpus(_MID_SQL, _live())

_SEP = ",\n    "


def _k0_sql(cap: int, src: str = _SEEN_SRC) -> str:
    """Adaptive coarse width k0 = ceil(sqrt(ceil(n / cap))) of ``src``."""
    return (
        f"(SELECT CAST(CEIL(SQRT(CEIL(COUNT(*) / {cap}.0))) AS BIGINT)"
        f" FROM {src} s0)"
    )


def _means(name: str, members: str, q: str) -> str:
    """Exact-mean centroid per (cell, sub) chunk of ``members``."""
    return f"""{name} AS MATERIALIZED (
      SELECT m.cell, m.sub, {q}.pos,
             CAST(SUM({q}.vq) AS DOUBLE) / (1000000.0 * COUNT(*)) AS c
      FROM {members} m JOIN {q} ON {q}.vec_id = m.vec_id
      GROUP BY 1, 2, 3)"""


def _chunk_rank(name: str, src: str) -> str:
    """Members ranked within their coarse cell by (distance, vec_id)."""
    return f"""{name} AS MATERIALIZED (
      SELECT vec_id, cell,
             ROW_NUMBER() OVER (PARTITION BY cell ORDER BY dfp, vec_id)
               AS rn
      FROM {src})"""


def _split_ctes(cap: int) -> str:
    """Final coarse centroids, the rank-chunk split into sub-cells of
    <= ``cap`` members and the fine codebook (``q``/``a5`` upstream)."""
    return _SEP + _SEP.join([
        """c5 AS MATERIALIZED (
      SELECT a.cell, q.pos,
             CAST(SUM(q.vq) AS DOUBLE) / (1000000.0 * COUNT(*)) AS c
      FROM a5 a JOIN q ON q.vec_id = a.vec_id
      GROUP BY 1, 2)""",
        _chunk_rank("r", "a5"),
        f"""mfin AS MATERIALIZED (
      SELECT vec_id, cell, CAST((rn - 1) // {cap} AS INT) AS sub FROM r)""",
        _means("fc", "mfin", "q"),
    ])


def _fit_ctes(src: str, cap: int = _CAP, label_init: bool = False) -> str:
    """The fitted index over ``src``: label init, or the adaptive
    mod-hash init over k0 cells."""
    cell = "label" if label_init else f"CAST(vec_id % {_k0_sql(cap, src)} AS INT)"
    return _kmeans_cte(source=src, cell_expr=cell) + _split_ctes(cap)


# -- the probe batch and its assignment --------------------------------


def _quantized(name: str, rel: str, e: str = "") -> str:
    return f"""{name} AS MATERIALIZED (
      SELECT {e}vec_id, generate_subscripts({e}embedding, 1) AS pos,
             CAST(FLOOR(CAST(unnest({e}embedding) AS DOUBLE) * 1000000.0 + 0.5)
                  AS BIGINT) AS vq
      FROM {rel})"""


def _batch(name: str, where: str) -> str:
    return _quantized(name, f"embeddings\n      WHERE {where}")


def _dist(q: str, c: str) -> str:
    """Fixed-point squared distance of ``q``'s vectors to centroids ``c``."""
    return (
        f"SUM(CAST(FLOOR(({q}.vq / 1000000.0 - {c}.c) * ({q}.vq / 1000000.0 - {c}.c)\n"
        "                            * 1000000000000.0 + 0.5) AS BIGINT)) AS dfp"
    )


def _coarse(name: str, q: str) -> str:
    return f"""{name} AS MATERIALIZED (
      SELECT {q}.vec_id, c.cell,
             {_dist(q, "c")}
      FROM {q} JOIN c5 c ON c.pos = {q}.pos
      GROUP BY 1, 2)"""


def _argmin(name: str, d: str, keep_dfp: bool = False) -> str:
    dfp = ",\n             FIRST(dfp ORDER BY dfp, cell) AS dfp" if keep_dfp else ""
    return f"""{name} AS MATERIALIZED (
      SELECT vec_id, FIRST(cell ORDER BY dfp, cell) AS cell{dfp}
      FROM {d} GROUP BY vec_id)"""


def _top(name: str, n: int, cols: str = "vec_id, cell, rnk") -> str:
    return f"""{name} AS MATERIALIZED (
      SELECT {cols} FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dfp, cell)
                 AS rnk
        FROM dn) t
      WHERE rnk <= {n})"""


def _fine(
    q: str = "qn", src: str = "an", ref: str = "an", book: str = "fc",
    ranked: bool = False,
) -> str:
    rnk, g4 = ("an.rnk, ", ", 4") if ranked else ("", "")
    return f"""dfine AS MATERIALIZED (
      SELECT {q}.vec_id, {rnk}f.cell, f.sub,
             {_dist(q, "f")}
      FROM {q} JOIN {src} ON {ref}.vec_id = {q}.vec_id
      JOIN {book} f ON f.cell = {ref}.cell AND f.pos = {q}.pos
      GROUP BY 1, 2, 3{g4})"""


_AFINE = """afine AS MATERIALIZED (
      SELECT vec_id, FIRST(cell ORDER BY dfp, sub) AS cell,
             FIRST(sub ORDER BY dfp, sub) AS sub
      FROM dfine GROUP BY vec_id)"""


def _afine_ranked(cell_tie: str) -> str:
    return f"""afine AS MATERIALIZED (
      SELECT vec_id, rnk,
             FIRST(cell ORDER BY dfp, {cell_tie}) AS cell,
             FIRST(sub ORDER BY dfp, sub) AS sub
      FROM dfine GROUP BY vec_id, rnk)"""


# -- membership ---------------------------------------------------------


def _nrm(name: str, q: str) -> str:
    return f"{name} AS (SELECT vec_id, SUM(vq * vq) AS nn FROM {q} GROUP BY 1)"


_NORMS = [_nrm("nrm_s", "q"), _nrm("nrm_n", "qn")]


def _dots(
    name: str = "pr", key: str = "", mem: str = "mfin", q: str = "qn",
    seen: str = "q", live: str = "",
) -> str:
    """Full-vector membership: dot products against the members of each
    assigned fine cell (``key`` carries the cell or rank through)."""
    g3 = ", 3" if key else ""
    return f"""{name} AS MATERIALIZED (
      SELECT a.vec_id AS id_new, {key}s.vec_id AS id_seen,
             SUM({q}.vq * qs.vq) AS dot
      FROM afine a
      JOIN {mem} s ON s.cell = a.cell AND s.sub = a.sub{live}
      JOIN {q} ON {q}.vec_id = a.vec_id
      JOIN {seen} qs ON qs.vec_id = s.vec_id AND qs.pos = {q}.pos
      GROUP BY 1, 2{g3})"""


def _adc(live: str) -> list[str]:
    """ADC membership: the PQ codebook (residue-class means of the
    members' 1e4-scaled subvectors), the members' codes, the probe
    batch's ADC table, ADC distances over the assigned cells' codes,
    then exact dot products for the top-``_PQ_RERANK`` candidates."""
    return [
        f"""msub AS MATERIALIZED (
      SELECT m.vec_id, (q.pos - 1) // {_PQ_SUB} AS sm,
             (q.pos - 1) % {_PQ_SUB} AS sj,
             CAST(FLOOR(q.vq / 100.0 + 0.5) AS BIGINT) AS vq4
      FROM mfin m JOIN q ON q.vec_id = m.vec_id)""",
        f"""pcb AS MATERIALIZED (
      SELECT CAST(vec_id % {_PQ_K} AS INT) AS k, sm, sj,
             CAST(FLOOR(CAST(SUM(vq4) AS DOUBLE) / COUNT(*) + 0.5)
                  AS BIGINT) AS cq
      FROM msub GROUP BY 1, 2, 3)""",
        """mdist AS MATERIALIZED (
      SELECT s.vec_id, s.sm, c.k,
             SUM((s.vq4 - c.cq) * (s.vq4 - c.cq)) AS d
      FROM msub s JOIN pcb c ON c.sm = s.sm AND c.sj = s.sj
      GROUP BY 1, 2, 3)""",
        """mcode AS MATERIALIZED (
      SELECT vec_id, sm, FIRST(k ORDER BY d, k) AS code
      FROM mdist GROUP BY 1, 2)""",
        f"""psub AS (
      SELECT vec_id, (pos - 1) // {_PQ_SUB} AS sm,
             (pos - 1) % {_PQ_SUB} AS sj,
             CAST(FLOOR(vq / 100.0 + 0.5) AS BIGINT) AS vq4
      FROM qn)""",
        """pdist AS MATERIALIZED (
      SELECT p.vec_id, p.sm, c.k AS code,
             SUM((p.vq4 - c.cq) * (p.vq4 - c.cq)) AS d
      FROM psub p JOIN pcb c ON c.sm = p.sm AND c.sj = p.sj
      GROUP BY 1, 2, 3)""",
        f"""adc AS MATERIALIZED (
      SELECT a.vec_id AS id_new, s.vec_id AS id_seen, SUM(pd.d) AS adc_d
      FROM afine a
      JOIN mfin s ON s.cell = a.cell AND s.sub = a.sub{live}
      JOIN mcode mc ON mc.vec_id = s.vec_id
      JOIN pdist pd ON pd.vec_id = a.vec_id AND pd.sm = mc.sm
                   AND pd.code = mc.code
      GROUP BY 1, 2)""",
        f"""rr AS MATERIALIZED (
      SELECT id_new, id_seen FROM (
        SELECT id_new, id_seen,
               ROW_NUMBER() OVER (PARTITION BY id_new
                                  ORDER BY adc_d, id_seen) AS rk
        FROM adc) t
      WHERE rk <= {_PQ_RERANK})""",
        *_NORMS,
        """pr AS MATERIALIZED (
      SELECT rr.id_new, rr.id_seen, SUM(qn.vq * qs.vq) AS dot
      FROM rr
      JOIN qn ON qn.vec_id = rr.id_new
      JOIN q qs ON qs.vec_id = rr.id_seen AND qs.pos = qn.pos
      GROUP BY 1, 2)""",
    ]


def _cos(
    name: str, src: str, key: str = "", new: str = "nrm_n", seen: str = "nrm_s"
) -> str:
    return f"""{name} AS MATERIALIZED (
      SELECT id_new{key},
             CAST(FLOOR(dot / (sqrt(na.nn) * sqrt(nb.nn)) * 10000.0 + 0.5)
                  AS BIGINT) AS cos_bp
      FROM {src}
      JOIN {new} na ON na.vec_id = id_new
      JOIN {seen} nb ON nb.vec_id = id_seen
      WHERE na.nn > 0 AND nb.nn > 0)"""


# -- tails ----------------------------------------------------------------


def _verdict(primary: str) -> str:
    """One row per probed vector of ``primary``: its cell/sub and the
    count and best cosine of its duplicates at >= the SemDeDup eps."""
    return f"""agg AS MATERIALIZED (
      SELECT id_new AS vec_id, COUNT(*) AS n_seen_dups,
             MAX(cos_bp) AS max_cos_bp
      FROM sim WHERE cos_bp >= {_SEMDEDUP_EPS_BP} GROUP BY 1)
    SELECT CAST(n.vec_id AS BIGINT) AS vec_id,
           CAST(n.cell AS INT) AS cell,
           CAST(n.sub AS INT) AS sub,
           CAST(COALESCE(a.n_seen_dups, 0) AS BIGINT) AS n_seen_dups,
           CAST(COALESCE(a.max_cos_bp, {_NO_PEER_BP}) AS BIGINT) AS max_cos_bp,
           CAST(CASE WHEN a.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
             AS is_novel
    FROM {primary}
"""


_RANK1 = "afine n LEFT JOIN agg a ON a.vec_id = n.vec_id"
# a multiprobe reports the rank-1 cell and sub
_PRIMARY = (
    "(SELECT vec_id, cell, sub FROM afine WHERE rnk = 1) n\n"
    "    LEFT JOIN agg a ON a.vec_id = n.vec_id"
)

# Brute-force truth over the quantized panel ``qn`` vs the seen ``q``.
_TRUTH = [
    """tdot AS MATERIALIZED (
      SELECT qn.vec_id AS id_new, q.vec_id AS id_seen,
             SUM(qn.vq * q.vq) AS dot
      FROM qn JOIN q ON q.pos = qn.pos
      GROUP BY 1, 2)""",
    _cos("tsim", "tdot"),
    f"""truth AS MATERIALIZED (
      SELECT id_new AS vec_id, COUNT(*) AS c
      FROM tsim WHERE cos_bp >= {_SEMDEDUP_EPS_BP} GROUP BY 1)""",
    "tt AS (SELECT COUNT(*) AS tv, COALESCE(SUM(c), 0) AS tp FROM truth)",
]

_RECALL = """CAST(CASE WHEN {t}tv = 0 THEN 0 ELSE {d}dv * 10000 // {t}tv END
                AS BIGINT) AS vec_recall_bp,
           CAST(CASE WHEN {t}tp = 0 THEN 0 ELSE {d}dp * 10000 // {t}tp END
                AS BIGINT) AS pair_recall_bp"""


# -- the programs ---------------------------------------------------------


def _probe_ctes(
    boundary: str, nprobe: int = 1, adc: bool = False, tombs: bool = False
) -> str:
    """The two-level probe of every vector past ``boundary``, at
    ``nprobe`` coarse cells, full-vector or ADC, with or without the
    tombstoned members (the fit keeps them: deletion masks, never
    refits)."""
    live = _live("s.") if tombs else ""
    ctes = [
        _batch("qn", f"vec_id > {boundary}"),
        _coarse("dn", "qn"),
    ]
    if nprobe == 1:
        ctes += [_argmin("an", "dn"), _fine(), _AFINE]
    else:
        # all rows of one (vec_id, rnk) share a cell; the ADC text
        # breaks that tie on cell, the full-vector text on sub
        ctes += [
            _top("an", nprobe),
            _fine(ranked=True),
            _afine_ranked("cell" if adc else "sub"),
        ]
    ctes += _adc(live) if adc else [*_NORMS, _dots(live=live)]
    ctes += [_cos("sim", "pr"), _verdict(_RANK1 if nprobe == 1 else _PRIMARY)]
    return _SEP + _SEP.join(ctes)


def two_level(
    src: str, boundary: str, cap: int = _CAP, label_init: bool = False,
    nprobe: int = 1, adc: bool = False, tombs: bool = False,
) -> str:
    """A fit over ``src`` probed past ``boundary`` (``_probe_ctes``)."""
    return _fit_ctes(src, cap, label_init) + _probe_ctes(
        boundary, nprobe, adc, tombs
    )


def append_oracle() -> str:
    """Fit the seen half, admit (mid, q3] into new sub-cells past each
    cell's max sub with no refit, probe past q3 against the union of
    built and admitted fine cells and members."""
    ctes = [
        _batch("qa", f"vec_id > {_MID_SQL} AND vec_id <= {_Q3_SQL}"),
        _coarse("da", "qa"),
        _argmin("aa", "da", keep_dfp=True),
        _chunk_rank("ra", "aa"),
        """soff AS MATERIALIZED (
      SELECT cell, MAX(sub) + 1 AS base FROM mfin GROUP BY cell)""",
        f"""mapp AS MATERIALIZED (
      SELECT r.vec_id, r.cell,
             CAST(COALESCE(s.base, 0) + (r.rn - 1) // {_CAP} AS INT) AS sub
      FROM ra r LEFT JOIN soff s ON s.cell = r.cell)""",
        _means("fca", "mapp", "qa"),
        """fall AS MATERIALIZED (
      SELECT cell, sub, pos, c FROM fc
      UNION ALL SELECT cell, sub, pos, c FROM fca)""",
        """mall AS MATERIALIZED (
      SELECT vec_id, cell, sub FROM mfin
      UNION ALL SELECT vec_id, cell, sub FROM mapp)""",
        """qall AS MATERIALIZED (
      SELECT vec_id, pos, vq FROM q
      UNION ALL SELECT vec_id, pos, vq FROM qa)""",
        _batch("qp", f"vec_id > {_Q3_SQL}"),
        _coarse("dp", "qp"),
        _argmin("ap", "dp"),
        _fine("qp", "ap", "ap", "fall"),
        _AFINE,
        _nrm("nrm_all", "qall"),
        _nrm("nrm_p", "qp"),
        _dots(mem="mall", q="qp", seen="qall"),
        _cos("sim", "pr", new="nrm_p", seen="nrm_all"),
        _verdict(_RANK1),
    ]
    return _fit_ctes(_SEEN_SRC) + _SEP + _SEP.join(ctes)


def recall_eval_oracle() -> str:
    """Duplicate recall at nprobe 1 and ``_NPROBE`` over the panel
    (mid, mid + ``_PANEL``]: hits per probed cell, the rank-1 cell's
    hits, and the brute-force truth."""
    ctes = [
        _batch(
            "qn",
            f"vec_id > {_MID_BOUNDARY}\n"
            f"        AND vec_id <= {_PANEL} + {_MID_BOUNDARY}",
        ),
        _coarse("dn", "qn"),
        _argmin("an1", "dn"),
        _top("an2", _NPROBE, "vec_id, cell"),
        _fine(src="an2 a", ref="a"),
        """afine AS MATERIALIZED (
      SELECT vec_id, cell, FIRST(sub ORDER BY dfp, sub) AS sub
      FROM dfine GROUP BY vec_id, cell)""",
        *_NORMS,
        _dots("prx", key="a.cell, "),
        _cos("simx", "prx", key=", cell"),
        f"""hitsx AS MATERIALIZED (
      SELECT id_new, cell, COUNT(*) AS n
      FROM simx WHERE cos_bp >= {_SEMDEDUP_EPS_BP} GROUP BY 1, 2)""",
        "h2 AS (SELECT id_new, SUM(n) AS n FROM hitsx GROUP BY 1)",
        """h1 AS (
      SELECT hx.id_new, hx.n
      FROM hitsx hx JOIN an1 a1
        ON a1.vec_id = hx.id_new AND a1.cell = hx.cell)""",
        *_TRUTH,
        "v1 AS (SELECT COUNT(*) AS dv, COALESCE(SUM(n), 0) AS dp FROM h1)",
        "v2 AS (SELECT COUNT(*) AS dv, COALESCE(SUM(n), 0) AS dp FROM h2)\n"
        f"""    SELECT CAST(variant AS VARCHAR) AS variant,
           CAST(tv AS BIGINT) AS n_truth_vecs,
           CAST(tp AS BIGINT) AS n_truth_pairs,
           CAST(dv AS BIGINT) AS n_detected_vecs,
           CAST(dp AS BIGINT) AS n_detected_pairs,
           {_RECALL.format(t="", d="")}
    FROM (
      SELECT 'nprobe1' AS variant, v1.dv, v1.dp, tt.tv, tt.tp FROM v1, tt
      UNION ALL
      SELECT 'nprobe2' AS variant, v2.dv, v2.dp, tt.tv, tt.tp FROM v2, tt)
""",
    ]
    return _fit_ctes(_SEEN_SRC) + _SEP + _SEP.join(ctes)


def sweep_oracle(cap: int) -> str:
    """Recall at each of ``_SWEEP_NPROBES`` of a fit at ``cap``, over
    the md5-top-``_PANEL`` of the new half: one rank-<=4 assignment,
    hits keyed by rank (the rank<=r hit sets nest)."""
    nprobes = ", ".join(f"({n})" for n in _SWEEP_NPROBES)
    ctes = [
        f"""pnl AS MATERIALIZED (
      SELECT vec_id FROM embeddings
      WHERE vec_id > {_MID_BOUNDARY}
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_PANEL})""",
        _quantized("qn", "embeddings e JOIN pnl ON pnl.vec_id = e.vec_id", "e."),
        _coarse("dn", "qn"),
        _top("an", max(_SWEEP_NPROBES)),
        _fine(ranked=True),
        _afine_ranked("sub"),
        *_NORMS,
        _dots(key="a.rnk, "),
        _cos("sim", "pr", key=", rnk"),
        f"""hb AS MATERIALIZED (
      SELECT id_new, rnk, COUNT(*) AS n
      FROM sim WHERE cos_bp >= {_SEMDEDUP_EPS_BP} GROUP BY 1, 2)""",
        *_TRUTH,
        f"""vv AS (
      SELECT np.nprobe,
             COUNT(DISTINCT hb.id_new) AS dv,
             COALESCE(SUM(hb.n), 0) AS dp
      FROM (VALUES {nprobes}) np(nprobe)
      LEFT JOIN hb ON hb.rnk <= np.nprobe
      GROUP BY 1)
    SELECT CAST({cap} AS BIGINT) AS cap,
           CAST(vv.nprobe AS BIGINT) AS nprobe,
           CAST(tt.tv AS BIGINT) AS n_truth_vecs,
           CAST(tt.tp AS BIGINT) AS n_truth_pairs,
           CAST(vv.dv AS BIGINT) AS n_detected_vecs,
           CAST(vv.dp AS BIGINT) AS n_detected_pairs,
           {_RECALL.format(t="tt.", d="vv.")}
    FROM vv, tt
""",
    ]
    return _fit_ctes(_SEEN_SRC, cap) + _SEP + _SEP.join(ctes)
