"""Distributed edge -> cube-face segments query (GetFaceSegments).

Spark side: one ``mapInPandas`` pass over the edge table running the
vectorized :mod:`s2geometry_spark.kernels.faceclip` walk — stateless
per-edge, embarrassingly parallel, no shuffle (the per-edge fan-out of
1-5 segment rows happens inside the Arrow batch).  This is the
building block a distributed shape-index construction would use to
assign every edge of a 100-TB geometry column to its cube faces.

Oracle side: the identical walk unrolled into a DuckDB CTE chain —
six rounds of (face-normal UVW projection, exit axis, exit point,
next face) column updates per edge, emitting one UNION ALL arm per
round, plus the MoveOriginToValidFace endpoint repair replayed in
full.  All arithmetic is staged in MATERIALIZED CTEs with pinned
+,-,*,/ order, so every emitted double matches the NumPy kernel
bit-for-bit (reference semantics: s2edge_clipping.cc:206-258).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s2geometry_spark.kernels.faceclip import (
    K_FACE_CLIP_ERROR_RADIANS,
    K_FACE_CLIP_ERROR_UV_COORD,
    NORM2_MIN,
)
from s2geometry_spark.kernels.coords import FACE_UVW_FACES
from s2geometry_spark.functions import map_batches
from s2geometry_spark.kernels.geotag import sql_xyz_exprs

N_ROUNDS = 6  # matches kernels.faceclip.MAX_SEGMENTS

FSEG_SCHEMA = (
    "eid long, seg long, face long, au double, av double, bu double, bv double"
)


# ---------- Spark operator ----------


def long_edges(
    t: DataFrame,
    key: str,
    key2: str,
    id_col: str = "eid",
    id_expr: str | None = None,
) -> DataFrame:
    """Long-geodesic edge fixture: endpoint A = unit(triplet(key)),
    endpoint B = unit(triplet(key2)) — independent sphere points, so
    ~5/6 of edges span faces.  Drops the (measure-zero) pairs whose
    RobustCrossProd main-path norm^2 <= NORM2_MIN, the same predicate
    the oracle replays, so both engines see the identical edge set."""
    import numpy as np
    import pandas as pd

    from s2geometry_spark.kernels.faceclip import robust_cross_prod, _dot3
    from s2geometry_spark.kernels.geotag import int_triplet_from_key, xyz_from_triplet

    base = t.select(
        F.expr(key).cast("long").alias("_k1"),
        F.expr(key2).cast("long").alias("_k2"),
        F.expr(id_expr or key).cast("long").alias(id_col),
    )

    def edge_arcs(pdf):
        k1 = pdf["_k1"].to_numpy(np.int64)
        k2 = pdf["_k2"].to_numpy(np.int64)
        ax, ay, az = xyz_from_triplet(*int_triplet_from_key(k1))
        bx, by, bz = xyz_from_triplet(*int_triplet_from_key(k2))
        nx, ny, nz = robust_cross_prod(ax, ay, az, bx, by, bz)
        keep = _dot3(nx, ny, nz, nx, ny, nz) > NORM2_MIN
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(np.int64)[keep],
                "ax": ax[keep], "ay": ay[keep], "az": az[keep],
                "bx": bx[keep], "by": by[keep], "bz": bz[keep],
            }
        )

    return map_batches(
        base,
        edge_arcs,
        f"{id_col} long, ax double, ay double, az double, "
        "bx double, by double, bz double",
    )


def face_segments(edges: DataFrame, id_col: str = "eid") -> DataFrame:
    """(eid, seg, face, au, av, bu, bv): the GetFaceSegments walk per
    edge.  Stateless mapInPandas — scales as a pure map stage."""
    import pandas as pd

    from s2geometry_spark.kernels.faceclip import get_face_segments

    def face_segs(pdf):
        import numpy as np

        idx, seg, face, au, av, bu, bv = get_face_segments(
            pdf["ax"].to_numpy(np.float64),
            pdf["ay"].to_numpy(np.float64),
            pdf["az"].to_numpy(np.float64),
            pdf["bx"].to_numpy(np.float64),
            pdf["by"].to_numpy(np.float64),
            pdf["bz"].to_numpy(np.float64),
        )
        eid = pdf[id_col].to_numpy(np.int64)[idx]
        return pd.DataFrame(
            {
                "eid": eid,
                "seg": seg,
                "face": face,
                "au": au,
                "av": av,
                "bu": bu,
                "bv": bv,
            }
        )

    return map_batches(edges, face_segs, FSEG_SCHEMA)


def clip_to_faces(edges: DataFrame, padding: float, id_col: str = "eid") -> DataFrame:
    """(eid, face, au, av, bu, bv): ClipToPaddedFace over every
    (edge, face) pair — the per-face clip the shape-index cell
    assignment performs, as a constant 6x map-side fan-out (no join,
    no shuffle; the face tiling happens inside the Arrow batch)."""
    import pandas as pd

    from s2geometry_spark.kernels.faceclip import clip_to_padded_face

    def clip_faces(pdf):
        import numpy as np

        n = len(pdf)
        E = np.repeat(np.arange(n), 6)
        Fc = np.tile(np.arange(6, dtype=np.int64), n)
        ax = pdf["ax"].to_numpy(np.float64)[E]
        ay = pdf["ay"].to_numpy(np.float64)[E]
        az = pdf["az"].to_numpy(np.float64)[E]
        bx = pdf["bx"].to_numpy(np.float64)[E]
        by = pdf["by"].to_numpy(np.float64)[E]
        bz = pdf["bz"].to_numpy(np.float64)[E]
        hit, au, av, bu, bv = clip_to_padded_face(
            Fc, ax, ay, az, bx, by, bz, padding
        )
        eid = pdf[id_col].to_numpy(np.int64)[E]
        return pd.DataFrame(
            {
                "eid": eid[hit],
                "face": Fc[hit],
                "au": au[hit],
                "av": av[hit],
                "bu": bu[hit],
                "bv": bv[hit],
            }
        )

    return map_batches(
        edges,
        clip_faces,
        "eid long, face long, au double, av double, bu double, bv double",
    )


# ---------- DuckDB oracle (same walk, unrolled) ----------


def _d(v: float) -> str:
    """Pin a python double as a DuckDB DOUBLE literal (exponent notation
    parses as DOUBLE, never DECIMAL)."""
    return f"CAST({v:.17e} AS DOUBLE)"


def _uvw_u(face: str, x: str, y: str, z: str) -> str:
    return (
        f"(CASE {face} WHEN 0 THEN {y} WHEN 1 THEN -({x}) WHEN 2 THEN -({x}) "
        f"WHEN 3 THEN -({z}) WHEN 4 THEN -({z}) ELSE {y} END)"
    )


def _uvw_v(face: str, x: str, y: str, z: str) -> str:
    return (
        f"(CASE {face} WHEN 0 THEN {z} WHEN 1 THEN {z} WHEN 2 THEN -({y}) "
        f"WHEN 3 THEN -({y}) WHEN 4 THEN {x} ELSE {x} END)"
    )


def _uvw_w(face: str, x: str, y: str, z: str) -> str:
    return (
        f"(CASE {face} WHEN 0 THEN {x} WHEN 1 THEN {y} WHEN 2 THEN {z} "
        f"WHEN 3 THEN -({x}) WHEN 4 THEN -({y}) ELSE -({z}) END)"
    )


def _fuv_x(face: str, u: str, v: str) -> str:
    return (
        f"(CASE {face} WHEN 0 THEN 1e0 WHEN 1 THEN -({u}) WHEN 2 THEN -({u}) "
        f"WHEN 3 THEN -1e0 WHEN 4 THEN {v} ELSE {v} END)"
    )


def _fuv_y(face: str, u: str, v: str) -> str:
    return (
        f"(CASE {face} WHEN 0 THEN {u} WHEN 1 THEN 1e0 WHEN 2 THEN -({v}) "
        f"WHEN 3 THEN -({v}) WHEN 4 THEN -1e0 ELSE {u} END)"
    )


def _fuv_z(face: str, u: str, v: str) -> str:
    return (
        f"(CASE {face} WHEN 0 THEN {v} WHEN 1 THEN {v} WHEN 2 THEN 1e0 "
        f"WHEN 3 THEN -({u}) WHEN 4 THEN -({u}) ELSE -1e0 END)"
    )


def _valid_uv_u(face: str, x: str, y: str, z: str) -> str:
    return (
        f"(CASE {face} WHEN 0 THEN {y}/{x} WHEN 1 THEN -({x})/{y} "
        f"WHEN 2 THEN -({x})/{z} WHEN 3 THEN {z}/{x} WHEN 4 THEN {z}/{y} "
        f"ELSE -({y})/{z} END)"
    )


def _valid_uv_v(face: str, x: str, y: str, z: str) -> str:
    return (
        f"(CASE {face} WHEN 0 THEN {z}/{x} WHEN 1 THEN {z}/{y} "
        f"WHEN 2 THEN -({y})/{z} WHEN 3 THEN {y}/{x} WHEN 4 THEN -({x})/{y} "
        f"ELSE -({x})/{z} END)"
    )


def _get_face(x: str, y: str, z: str) -> str:
    fax = (
        f"(CASE WHEN abs({x}) > abs({y}) "
        f"THEN (CASE WHEN abs({x}) > abs({z}) THEN 0 ELSE 2 END) "
        f"ELSE (CASE WHEN abs({y}) > abs({z}) THEN 1 ELSE 2 END) END)"
    )
    comp = f"(CASE {fax} WHEN 0 THEN {x} WHEN 1 THEN {y} ELSE {z} END)"
    return f"(CASE WHEN {comp} < 0 THEN {fax} + 3 ELSE {fax} END)"


def _uvw_face(face: str, axis: str, positive: str) -> str:
    """GetUVWFace via the kFaceUVWFaces table (axes 0/1 only)."""
    arms = []
    for f in range(6):
        for ax in range(2):
            for d in range(2):
                arms.append(
                    f"WHEN {f * 4 + ax * 2 + d} THEN {int(FACE_UVW_FACES[f, ax, d])}"
                )
    return f"(CASE ({face})*4 + ({axis})*2 + ({positive}) {' '.join(arms)} END)"


def _opp_edges(nu: str, nv: str, nw: str) -> str:
    """IntersectsOppositeEdges, exact-FP replay."""
    u, v, w = f"abs({nu})", f"abs({nv})", f"abs({nw})"
    return (
        f"(CASE WHEN abs({u} - {v}) <> {w} THEN abs({u} - {v}) >= {w} "
        f"ELSE (CASE WHEN {u} >= {v} THEN {u} - {w} >= {v} "
        f"ELSE {v} - {w} >= {u} END) END)"
    )


def _exit_axis(nu: str, nv: str, nw: str) -> str:
    parity = f"(({nu} < 0) <> ({nv} < 0)) <> ({nw} < 0)"
    return (
        f"(CASE WHEN {_opp_edges(nu, nv, nw)} "
        f"THEN (CASE WHEN abs({nu}) >= abs({nv}) THEN 1 ELSE 0 END) "
        f"ELSE (CASE WHEN {parity} THEN 0 ELSE 1 END) END)"
    )


def _itf(nu: str, nv: str, nw: str) -> str:
    """IntersectsFace, exact-FP replay."""
    u, v, w = f"abs({nu})", f"abs({nv})", f"abs({nw})"
    return f"(({v} >= {w} - {u}) AND ({u} >= {w} - {v}))"


def _move_origin_ctes(p: str, src: str, nx: str, ny: str, nz: str) -> str:
    """MoveOriginToValidFace replay for endpoint ``p`` (cols {p}x/{p}y/
    {p}z unit vector, {p}f face, {p}u/{p}v uv).  ``nx..nz`` are this
    endpoint's normal expressions (ab for A, -ab for B).  Ends in CTE
    mo_{p} with repaired {p}f2/{p}u2/{p}v2."""
    safe = _d(1 - K_FACE_CLIP_ERROR_UV_COORD)
    neg_err = _d(-K_FACE_CLIP_ERROR_RADIANS)
    x, y, z = f"{p}x", f"{p}y", f"{p}z"
    return f"""
mo_{p}1 AS MATERIALIZED (
  SELECT *,
    (greatest(abs({p}u), abs({p}v)) <= {safe}) AS {p}fast,
    {_uvw_u(f'{p}f', nx, ny, nz)} AS {p}nu,
    {_uvw_v(f'{p}f', nx, ny, nz)} AS {p}nv,
    {_uvw_w(f'{p}f', nx, ny, nz)} AS {p}nw
  FROM {src}
),
mo_{p}2 AS MATERIALIZED (
  SELECT *,
    {_itf(f'{p}nu', f'{p}nv', f'{p}nw')} AS {p}itf,
    {_exit_axis(f'{p}nu', f'{p}nv', f'{p}nw')} AS {p}ax,
    sqrt((({nx})*({nx}) + ({ny})*({ny})) + ({nz})*({nz})) AS {p}nrm
  FROM mo_{p}1
),
mo_{p}3 AS MATERIALIZED (
  SELECT *,
    CASE WHEN {p}ax = 0 THEN (CASE WHEN {p}nv > 0 THEN 1e0 ELSE -1e0 END)
         ELSE (-(CASE WHEN {p}nu < 0 THEN 1e0 ELSE -1e0 END)*{p}nv - {p}nw)/{p}nu
    END AS {p}eu,
    CASE WHEN {p}ax = 0 THEN (-(CASE WHEN {p}nv > 0 THEN 1e0 ELSE -1e0 END)*{p}nu - {p}nw)/{p}nv
         ELSE (CASE WHEN {p}nu < 0 THEN 1e0 ELSE -1e0 END)
    END AS {p}ev,
    ({nx})/{p}nrm AS {p}hx, ({ny})/{p}nrm AS {p}hy, ({nz})/{p}nrm AS {p}hz
  FROM mo_{p}2
),
mo_{p}4 AS MATERIALIZED (
  SELECT *,
    {_fuv_x(f'{p}f', f'{p}eu', f'{p}ev')} AS {p}exx,
    {_fuv_y(f'{p}f', f'{p}eu', f'{p}ev')} AS {p}exy,
    {_fuv_z(f'{p}f', f'{p}eu', f'{p}ev')} AS {p}exz,
    {p}hy*{z} - {p}hz*{y} AS {p}tx,
    {p}hz*{x} - {p}hx*{z} AS {p}ty,
    {p}hx*{y} - {p}hy*{x} AS {p}tz
  FROM mo_{p}3
),
mo_{p}5 AS MATERIALIZED (
  SELECT *,
    ({p}fast OR ({p}itf AND
      ((({p}exx - {x})*{p}tx + ({p}exy - {y})*{p}ty) + ({p}exz - {z})*{p}tz
       >= {neg_err}))) AS {p}keep,
    (CASE WHEN abs({p}u) >= abs({p}v) THEN 0 ELSE 1 END) AS {p}rax
  FROM mo_{p}4
),
mo_{p}6 AS MATERIALIZED (
  SELECT *,
    CASE WHEN {p}keep THEN {p}f ELSE {_uvw_face(f'{p}f', f'{p}rax',
        f"(CASE WHEN (CASE WHEN {p}rax = 0 THEN {p}u ELSE {p}v END) > 0 THEN 1 ELSE 0 END)")}
    END AS {p}f2
  FROM mo_{p}5
),
mo_{p} AS MATERIALIZED (
  SELECT * EXCLUDE ({p}fast, {p}nu, {p}nv, {p}nw, {p}itf, {p}ax, {p}nrm,
                    {p}eu, {p}ev, {p}hx, {p}hy, {p}hz,
                    {p}exx, {p}exy, {p}exz, {p}tx, {p}ty, {p}tz,
                    {p}keep, {p}rax),
    CASE WHEN {p}keep THEN {p}u ELSE
      greatest(-1e0, least(1e0, {_valid_uv_u(f'{p}f2', x, y, z)})) END AS {p}u2,
    CASE WHEN {p}keep THEN {p}v ELSE
      greatest(-1e0, least(1e0, {_valid_uv_v(f'{p}f2', x, y, z)})) END AS {p}v2
  FROM mo_{p}6
)"""


def _round_ctes(r: int, src: str) -> str:
    """Walk round ``r``: state (f{r}, u{r}, v{r}) -> (f{r+1}, u{r+1},
    v{r+1}), emitting act{r}/face{r}/sau{r}/sav{r}/sbu{r}/sbv{r}."""
    f, u, v = f"f{r}", f"u{r}", f"v{r}"
    n = r + 1
    sum_eq = (
        f"((w{r}p + w{r}q = w{r}r) AND (w{r}p = w{r}r - w{r}q) "
        f"AND (w{r}q = w{r}r - w{r}p))"
    )
    return f"""
wk{r}n AS MATERIALIZED (
  SELECT *,
    ({f} <> bf2) AS act{r},
    {_uvw_u(f, 'nx', 'ny', 'nz')} AS n{r}u,
    {_uvw_v(f, 'nx', 'ny', 'nz')} AS n{r}v,
    {_uvw_w(f, 'nx', 'ny', 'nz')} AS n{r}w
  FROM {src}
),
wk{r}a AS MATERIALIZED (
  SELECT *, {_exit_axis(f'n{r}u', f'n{r}v', f'n{r}w')} AS ax{r}
  FROM wk{r}n
),
wk{r}e AS MATERIALIZED (
  SELECT *,
    CASE WHEN ax{r} = 0 THEN (CASE WHEN n{r}v > 0 THEN 1e0 ELSE -1e0 END)
         ELSE (-(CASE WHEN n{r}u < 0 THEN 1e0 ELSE -1e0 END)*n{r}v - n{r}w)/n{r}u
    END AS eu{r},
    CASE WHEN ax{r} = 0 THEN (-(CASE WHEN n{r}v > 0 THEN 1e0 ELSE -1e0 END)*n{r}u - n{r}w)/n{r}v
         ELSE (CASE WHEN n{r}u < 0 THEN 1e0 ELSE -1e0 END)
    END AS ev{r}
  FROM wk{r}a
),
wk{r}x AS MATERIALIZED (
  SELECT *,
    {_fuv_x(f, f'eu{r}', f'ev{r}')} AS ex{r},
    {_fuv_y(f, f'eu{r}', f'ev{r}')} AS ey{r},
    {_fuv_z(f, f'eu{r}', f'ev{r}')} AS ez{r},
    eu{r}*n{r}u AS w{r}p, ev{r}*n{r}v AS w{r}q, -(n{r}w) AS w{r}r,
    (CASE WHEN ax{r} = 0 THEN ev{r} ELSE eu{r} END) AS ov{r},
    (CASE WHEN ax{r} = 0 THEN eu{r} ELSE ev{r} END) AS av{r}_
  FROM wk{r}e
),
wk{r}f AS MATERIALIZED (
  SELECT *,
    CASE WHEN NOT act{r} THEN {f}
         WHEN abs(ov{r}) = 1e0
              AND {_uvw_face(f, f'(1 - ax{r})', f'(CASE WHEN ov{r} > 0 THEN 1 ELSE 0 END)')} = bf2
              AND {sum_eq}
         THEN bf2
         ELSE {_uvw_face(f, f'ax{r}', f'(CASE WHEN av{r}_ > 0 THEN 1 ELSE 0 END)')}
    END AS f{n}
  FROM wk{r}x
),
wk{r} AS MATERIALIZED (
  SELECT * EXCLUDE (n{r}u, n{r}v, n{r}w, ax{r}, w{r}p, w{r}q, w{r}r,
                    ov{r}, av{r}_, ex{r}, ey{r}, ez{r}),
    CASE WHEN act{r} THEN {_uvw_u(f'f{n}', f'ex{r}', f'ey{r}', f'ez{r}')}
         ELSE {u} END AS u{n},
    CASE WHEN act{r} THEN {_uvw_v(f'f{n}', f'ex{r}', f'ey{r}', f'ez{r}')}
         ELSE {v} END AS v{n}
  FROM wk{r}f
)"""


def _edge_norm_ctes(table: str, key: str, key2: str, id_expr: str) -> str:
    """Shared fixture replay: long_edges' unit endpoints + pinned
    RobustCrossProd main path + the norm^2 generic-position filter.
    Ends in CTE ``edges`` (eid, pax..pbz, nx, ny, nz)."""
    a = sql_xyz_exprs(key)
    b = sql_xyz_exprs(key2)
    return f"""raw AS MATERIALIZED (
  SELECT CAST({id_expr} AS BIGINT) AS eid,
         {a["x0"]} AS ax0, {a["y0"]} AS ay0, {a["z0"]} AS az0,
         {b["x0"]} AS bx0, {b["y0"]} AS by0, {b["z0"]} AS bz0
  FROM {table}
),
unita AS MATERIALIZED (
  SELECT eid,
    CAST(ax0 AS DOUBLE)/sqrt(CAST(ax0*ax0 + ay0*ay0 + az0*az0 AS DOUBLE)) AS pax,
    CAST(ay0 AS DOUBLE)/sqrt(CAST(ax0*ax0 + ay0*ay0 + az0*az0 AS DOUBLE)) AS pay,
    CAST(az0 AS DOUBLE)/sqrt(CAST(ax0*ax0 + ay0*ay0 + az0*az0 AS DOUBLE)) AS paz,
    CAST(bx0 AS DOUBLE)/sqrt(CAST(bx0*bx0 + by0*by0 + bz0*bz0 AS DOUBLE)) AS pbx,
    CAST(by0 AS DOUBLE)/sqrt(CAST(bx0*bx0 + by0*by0 + bz0*bz0 AS DOUBLE)) AS pby,
    CAST(bz0 AS DOUBLE)/sqrt(CAST(bx0*bx0 + by0*by0 + bz0*bz0 AS DOUBLE)) AS pbz
  FROM raw
),
dsum AS MATERIALIZED (
  SELECT *, pax - pbx AS ddx, pay - pby AS ddy, paz - pbz AS ddz,
         pax + pbx AS ssx, pay + pby AS ssy, paz + pbz AS ssz
  FROM unita
),
norm AS MATERIALIZED (
  SELECT eid, pax, pay, paz, pbx, pby, pbz,
         ddy*ssz - ddz*ssy AS nx, ddz*ssx - ddx*ssz AS ny,
         ddx*ssy - ddy*ssx AS nz
  FROM dsum
),
edges AS MATERIALIZED (
  SELECT * FROM norm WHERE (nx*nx + ny*ny) + nz*nz > 1e-14
)"""


def face_segments_oracle_sql(
    table: str, key: str, key2: str, id_expr: str | None = None
) -> str:
    """DuckDB replay of long_edges + face_segments: the walk unrolled
    ``N_ROUNDS`` times with per-round UNION ALL emit arms."""
    id_expr = id_expr or key
    rounds = ",".join(_round_ctes(r, "wk0" if r == 1 else f"wk{r - 1}") for r in range(1, N_ROUNDS + 1))
    walk_arms = "\n  UNION ALL\n".join(
        f"SELECT eid, CAST({r - 1} AS BIGINT) AS seg, CAST(f{r} AS BIGINT) AS face, "
        f"u{r} AS au, v{r} AS av, eu{r} AS bu, ev{r} AS bv FROM wk{r} WHERE act{r}"
        for r in range(1, N_ROUNDS + 1)
    )
    final_seg = " + ".join(
        f"(CASE WHEN act{r} THEN 1 ELSE 0 END)" for r in range(1, N_ROUNDS + 1)
    )
    last = N_ROUNDS + 1
    return f"""
WITH {_edge_norm_ctes(table, key, key2, id_expr)},
fuv0 AS MATERIALIZED (
  SELECT *,
    {_get_face('pax', 'pay', 'paz')} AS af0,
    {_get_face('pbx', 'pby', 'pbz')} AS bf0
  FROM edges
),
fuv AS MATERIALIZED (
  SELECT eid, nx, ny, nz,
    pax AS ax, pay AS ay, paz AS az, pbx AS bx, pby AS by_, pbz AS bz,
    af0, bf0,
    {_valid_uv_u('af0', 'pax', 'pay', 'paz')} AS au0,
    {_valid_uv_v('af0', 'pax', 'pay', 'paz')} AS av0,
    {_valid_uv_u('bf0', 'pbx', 'pby', 'pbz')} AS bu0,
    {_valid_uv_v('bf0', 'pbx', 'pby', 'pbz')} AS bv0
  FROM fuv0
),
walk0 AS MATERIALIZED (
  SELECT eid, nx, ny, nz, ax AS px, ay AS py, az AS pz,
         bx AS qx, by_ AS qy, bz AS qz,
         af0 AS pf, au0 AS pu, av0 AS pv,
         bf0 AS qf, bu0 AS qu, bv0 AS qv
  FROM fuv WHERE af0 <> bf0
),
{_move_origin_ctes('p', 'walk0', 'nx', 'ny', 'nz')},
{_move_origin_ctes('q', 'mo_p', '-(nx)', '-(ny)', '-(nz)')},
wk0 AS MATERIALIZED (
  SELECT eid, nx, ny, nz, qf2 AS bf2, qu2 AS bus, qv2 AS bvs,
         pf2 AS f1, pu2 AS u1, pv2 AS v1
  FROM mo_q
),
{rounds}
SELECT eid, CAST(0 AS BIGINT) AS seg, CAST(af0 AS BIGINT) AS face,
       au0 AS au, av0 AS av, bu0 AS bu, bv0 AS bv
FROM fuv WHERE af0 = bf0
UNION ALL
{walk_arms}
UNION ALL
SELECT eid, CAST({final_seg} AS BIGINT) AS seg, CAST(f{last} AS BIGINT) AS face,
       u{last} AS au, v{last} AS av, bus AS bu, bvs AS bv
FROM wk{N_ROUNDS}
"""


def _clip_dest_ctes(
    t: str,
    src: str,
    du: str, dv: str, dw: str,
    fu: str, fv: str, fw: str,
    su: str, sv: str, sw: str,
    ftx: str, fty: str, ftz: str,
    stx: str, sty: str, stz: str,
    scale: str,
) -> str:
    """ClipDestination replay for one endpoint: clips destination
    (du,dv,dw); (fu..fw)/(ft*) are the FIRST point and its tangent in
    the reference's score test order, (su..sw)/(st*) the SECOND (the
    destination itself); (su,sv,sw) args name confusion aside, the
    scaled normal for this direction is (su_,sv_,sw_) — passed via
    ``su/sv/sw``.  Ends in CTE cd_{t} adding {t}score/{t}u/{t}v."""
    safe = _d(1 - K_FACE_CLIP_ERROR_UV_COORD)
    return f"""
cd_{t}1 AS MATERIALIZED (
  SELECT *,
    ({du})/({dw}) AS {t}pu, ({dv})/({dw}) AS {t}pv,
    {_exit_axis(su, sv, sw)} AS {t}ax
  FROM {src}
),
cd_{t}2 AS MATERIALIZED (
  SELECT *,
    (({dw}) > 0 AND greatest(abs({t}pu), abs({t}pv)) <= {safe}) AS {t}ok,
    {scale} * (CASE WHEN {t}ax = 0 THEN (CASE WHEN {sv} > 0 THEN 1e0 ELSE -1e0 END)
         ELSE (-(CASE WHEN {su} < 0 THEN 1e0 ELSE -1e0 END)*({sv}) - ({sw}))/({su}) END) AS {t}xu,
    {scale} * (CASE WHEN {t}ax = 0 THEN (-(CASE WHEN {sv} > 0 THEN 1e0 ELSE -1e0 END)*({su}) - ({sw}))/({sv})
         ELSE (CASE WHEN {su} < 0 THEN 1e0 ELSE -1e0 END) END) AS {t}xv
  FROM cd_{t}1
),
cd_{t}3 AS MATERIALIZED (
  SELECT *,
    ((({t}xu - ({fu}))*({ftx}) + ({t}xv - ({fv}))*({fty})) + (1e0 - ({fw}))*({ftz}) < 0) AS {t}wf,
    ((({t}xu - ({du}))*({stx}) + ({t}xv - ({dv}))*({sty})) + (1e0 - ({dw}))*({stz}) < 0) AS {t}ws
  FROM cd_{t}2
),
cd_{t} AS MATERIALIZED (
  SELECT *,
    CASE WHEN {t}ok THEN 0
         WHEN coalesce({t}wf, FALSE) THEN (CASE WHEN ({dw}) <= 0 THEN 3 ELSE 2 END)
         WHEN coalesce({t}ws, FALSE) THEN (CASE WHEN ({dw}) <= 0 THEN 3 ELSE 1 END)
         ELSE 0 END AS {t}score,
    CASE WHEN {t}ok THEN {t}pu
         WHEN (coalesce({t}wf, FALSE) OR coalesce({t}ws, FALSE)) AND ({dw}) > 0 THEN {t}pu
         ELSE {t}xu END AS {t}u,
    CASE WHEN {t}ok THEN {t}pv
         WHEN (coalesce({t}wf, FALSE) OR coalesce({t}ws, FALSE)) AND ({dw}) > 0 THEN {t}pv
         ELSE {t}xv END AS {t}v
  FROM cd_{t}3
)"""


def clip_to_faces_oracle_sql(
    table: str, key: str, key2: str, padding: float, id_expr: str | None = None
) -> str:
    """DuckDB replay of long_edges + clip_to_faces: ClipToPaddedFace
    (s2edge_clipping.cc:323-362) per (edge, face) pair."""
    id_expr = id_expr or key
    scale = _d(1 + padding)
    return f"""
WITH {_edge_norm_ctes(table, key, key2, id_expr)},
ef AS MATERIALIZED (
  SELECT e.*, t.f
  FROM edges e CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5)) AS t(f)
),
gf AS MATERIALIZED (
  SELECT *,
    ({_get_face('pax', 'pay', 'paz')} = f AND {_get_face('pbx', 'pby', 'pbz')} = f) AS fastp
  FROM ef
),
uv3 AS MATERIALIZED (
  SELECT *,
    {_uvw_u('f', 'pax', 'pay', 'paz')} AS au3,
    {_uvw_v('f', 'pax', 'pay', 'paz')} AS av3,
    {_uvw_w('f', 'pax', 'pay', 'paz')} AS aw3,
    {_uvw_u('f', 'pbx', 'pby', 'pbz')} AS bu3,
    {_uvw_v('f', 'pbx', 'pby', 'pbz')} AS bv3,
    {_uvw_w('f', 'pbx', 'pby', 'pbz')} AS bw3,
    {_uvw_u('f', 'nx', 'ny', 'nz')} AS nuu,
    {_uvw_v('f', 'nx', 'ny', 'nz')} AS nvv,
    {_uvw_w('f', 'nx', 'ny', 'nz')} AS nww
  FROM gf
),
scn AS MATERIALIZED (
  SELECT *, {scale} * nuu AS snu, {scale} * nvv AS snv, nww AS snw
  FROM uv3
),
pre AS MATERIALIZED (
  SELECT * FROM scn WHERE fastp OR {_itf('snu', 'snv', 'snw')}
),
nh AS MATERIALIZED (
  SELECT *,
    nuu / sqrt((nuu*nuu + nvv*nvv) + nww*nww) AS hu,
    nvv / sqrt((nuu*nuu + nvv*nvv) + nww*nww) AS hv,
    nww / sqrt((nuu*nuu + nvv*nvv) + nww*nww) AS hw
  FROM pre
),
tn AS MATERIALIZED (
  SELECT *,
    hv*aw3 - hw*av3 AS atx, hw*au3 - hu*aw3 AS aty, hu*av3 - hv*au3 AS atz,
    bv3*hw - bw3*hv AS btx, bw3*hu - bu3*hw AS bty, bu3*hv - bv3*hu AS btz
  FROM nh
),
{_clip_dest_ctes('ca', 'tn',
    'au3', 'av3', 'aw3', 'bu3', 'bv3', 'bw3',
    '-(snu)', '-(snv)', '-(snw)',
    'btx', 'bty', 'btz', 'atx', 'aty', 'atz', scale)},
{_clip_dest_ctes('cb', 'cd_ca',
    'bu3', 'bv3', 'bw3', 'au3', 'av3', 'aw3',
    'snu', 'snv', 'snw',
    'atx', 'aty', 'atz', 'btx', 'bty', 'btz', scale)}
SELECT eid, CAST(f AS BIGINT) AS face,
  CASE WHEN fastp THEN au3/aw3 ELSE cau END AS au,
  CASE WHEN fastp THEN av3/aw3 ELSE cav END AS av,
  CASE WHEN fastp THEN bu3/bw3 ELSE cbu END AS bu,
  CASE WHEN fastp THEN bv3/bw3 ELSE cbv END AS bv
FROM cd_cb
WHERE fastp OR ({_itf('snu', 'snv', 'snw')} AND cascore + cbscore < 3)
"""


def edge_cells(edges: DataFrame, level: int, id_col: str = "eid") -> DataFrame:
    """(eid, face, ci, cj): the level-``level`` grid cells each edge
    crosses — GetFaceSegments + per-segment bbox candidates +
    IntersectsRect refinement, all inside one stateless mapInPandas.
    These (face, ci, cj) keys ARE the equi-join keys a distributed
    edge-crossing / shape-index join shuffles on; at 100 TB this map
    stage replaces the reference's in-memory MutableS2ShapeIndex cell
    assignment (s2edge_clipping.cc IntersectsRect + GetFaceSegments)."""
    import pandas as pd

    from s2geometry_spark.kernels.faceclip import edge_level_cells

    def level_cells(pdf):
        import numpy as np

        idx, face, ci, cj = edge_level_cells(
            pdf["ax"].to_numpy(np.float64),
            pdf["ay"].to_numpy(np.float64),
            pdf["az"].to_numpy(np.float64),
            pdf["bx"].to_numpy(np.float64),
            pdf["by"].to_numpy(np.float64),
            pdf["bz"].to_numpy(np.float64),
            level,
        )
        return pd.DataFrame(
            {
                "eid": pdf[id_col].to_numpy(np.int64)[idx],
                "face": face,
                "ci": ci,
                "cj": cj,
            }
        )

    return map_batches(edges, level_cells, "eid long, face long, ci long, cj long")


def _edge_cells_pick_sql(
    table: str, key: str, key2: str, level: int, id_expr: str | None = None
) -> tuple[str, str]:
    """Shared CTE chain for the edge->grid-cell oracles: the
    face_segments oracle nested as a CTE, then the identical bbox ->
    candidate-grid pipeline, ending at the ``pick`` CTE.  Returns
    (cte_chain, intersects_rect_where_clause)."""
    third = repr(1.0 / 3.0)
    inv = repr(1.0 / 1073741824.0)
    shift = 30 - level
    step = 1 << shift

    def uv2st(u: str) -> str:
        return (
            f"(CASE WHEN {u} >= 0 THEN 0.5 * sqrt(1 + 3*({u})) "
            f"ELSE 1 - 0.5 * sqrt(1 - 3*({u})) END)"
        )

    def st2ij(s: str) -> str:
        return (
            f"(CASE WHEN {s} > 0 THEN "
            f"CAST(floor(least(1073741824e0 * ({s}), 1073741823e0)) AS BIGINT) "
            f"ELSE 0 END) // {step}"
        )

    def st2uv(s: str) -> str:
        return (
            f"(CASE WHEN {s} >= 0.5 THEN {third} * (4*({s})*({s}) - 1) "
            f"ELSE {third} * (1 - (4*(1-({s})))*(1-({s}))) END)"
        )

    ctes = f"""segs AS MATERIALIZED (
  {face_segments_oracle_sql(table, key, key2, id_expr)}
),
bb AS MATERIALIZED (
  SELECT eid, face, au, av, bu, bv,
    least(au, bu) AS ulo, greatest(au, bu) AS uhi,
    least(av, bv) AS vlo, greatest(av, bv) AS vhi
  FROM segs
),
rng AS MATERIALIZED (
  SELECT *,
    {st2ij(uv2st('ulo'))} AS i0, {st2ij(uv2st('uhi'))} AS i1,
    {st2ij(uv2st('vlo'))} AS j0, {st2ij(uv2st('vhi'))} AS j1
  FROM bb
),
cand AS MATERIALIZED (
  SELECT r.*, ii.ci, jj.cj
  FROM rng r,
       UNNEST(generate_series(r.i0, r.i1)) AS ii(ci),
       UNNEST(generate_series(r.j0, r.j1)) AS jj(cj)
),
rect AS MATERIALIZED (
  SELECT *,
    {st2uv(f"({inv} * CAST(ci * {step} AS DOUBLE))")} AS culo,
    {st2uv(f"({inv} * CAST((ci + 1) * {step} AS DOUBLE))")} AS cuhi,
    {st2uv(f"({inv} * CAST(cj * {step} AS DOUBLE))")} AS cvlo,
    {st2uv(f"({inv} * CAST((cj + 1) * {step} AS DOUBLE))")} AS cvhi,
    -(bv - av) AS n0, bu - au AS n1
  FROM cand
),
pick AS MATERIALIZED (
  SELECT *,
    CASE WHEN n0 >= 0 THEN cuhi ELSE culo END AS vx,
    CASE WHEN n1 >= 0 THEN cvhi ELSE cvlo END AS vy,
    CASE WHEN n0 >= 0 THEN culo ELSE cuhi END AS wx,
    CASE WHEN n1 >= 0 THEN cvlo ELSE cvhi END AS wy
  FROM rect
)"""
    where = """greatest(au, bu) >= culo AND least(au, bu) <= cuhi
  AND greatest(av, bv) >= cvlo AND least(av, bv) <= cvhi
  AND n0 * (vx - au) + n1 * (vy - av) >= 0
  AND n0 * (wx - au) + n1 * (wy - av) <= 0"""
    return ctes, where


def edge_cells_oracle_sql(
    table: str, key: str, key2: str, level: int, id_expr: str | None = None
) -> str:
    """DuckDB replay: the face_segments oracle nested as a CTE, then the
    identical bbox -> candidate-grid -> IntersectsRect pipeline."""
    ctes, where = _edge_cells_pick_sql(table, key, key2, level, id_expr)
    return f"""
WITH {ctes}
SELECT eid, face, ci, cj FROM pick
WHERE {where}
"""


def edge_cell_clips(edges: DataFrame, level: int, id_col: str = "eid") -> DataFrame:
    """(eid, face, ci, cj, cau, cav, cbu, cbv): the level-``level`` grid
    cells each edge crosses WITH the edge clipped to each cell's UV rect
    (ClipEdge, s2edge_clipping.cc:382-450) — the per-cell clipped-edge
    form a distributed shape-index build shuffles on (face, ci, cj) and
    stores, so downstream interior-tracking / crossing tests touch only
    the in-cell segment.  One stateless mapInPandas — a pure map stage,
    no shuffle."""
    import pandas as pd

    from s2geometry_spark.kernels.faceclip import edge_level_cell_clips

    def cell_clips(pdf):
        import numpy as np

        idx, face, ci, cj, cau, cav, cbu, cbv = edge_level_cell_clips(
            pdf["ax"].to_numpy(np.float64),
            pdf["ay"].to_numpy(np.float64),
            pdf["az"].to_numpy(np.float64),
            pdf["bx"].to_numpy(np.float64),
            pdf["by"].to_numpy(np.float64),
            pdf["bz"].to_numpy(np.float64),
            level,
        )
        return pd.DataFrame(
            {
                "eid": pdf[id_col].to_numpy(np.int64)[idx],
                "face": face,
                "ci": ci,
                "cj": cj,
                "cau": cau,
                "cav": cav,
                "cbu": cbu,
                "cbv": cbv,
            }
        )

    return map_batches(
        edges,
        cell_clips,
        "eid long, face long, ci long, cj long, "
        "cau double, cav double, cbu double, cbv double",
    )


def _clip_axis_ctes(
    sfx: str,
    a0: str, b0: str, L0: str, H0: str,
    a1: str, b1: str, L1: str, H1: str,
    clo: str, chi: str, src: str,
) -> str:
    """One ClipBoundAxis pass (s2edge_clipping.cc ClipBoundAxis /
    UpdateEndpoint) as a CTE chain, replaying kernels/faceclip.clip_axis
    update-for-update so every +-*/ happens in the identical order.
    The final CTE is ``c{sfx}9`` and carries the pass verdict
    ``ok{sfx}``."""
    va, vb = f"va{sfx}", f"vb{sfx}"
    ma, mb = f"ma{sfx}", f"mb{sfx}"
    ok = f"ok{sfx}"

    def interp(c: str) -> str:
        # InterpolateDouble; the b0==a0 guard only fires on rows whose
        # pass verdict is already false (a degenerate interval outside
        # the clip window), where the kernel's +-inf/nan value feeds no
        # surviving update — 0e0 keeps DuckDB's NaN-sorts-high semantics
        # out of the replay.
        return (
            f"(CASE WHEN {b0} = {a0} THEN 0e0 "
            f"ELSE {a1} + ({b1} - {a1}) * ((({c}) - {a0}) / ({b0} - {a0})) END)"
        )

    return f"""c{sfx}0 AS (
  SELECT *, ({L0} < {clo}) AS {ma},
    NOT ({L0} < {clo} AND {H0} < {clo}) AS {ok},
    {interp(clo)} AS {va}
  FROM {src}
),
c{sfx}1 AS (
  SELECT * REPLACE (CASE WHEN {ma} THEN {clo} ELSE {L0} END AS {L0},
    ({ok} AND NOT ({ma} AND NOT diag AND {H1} < {va})) AS {ok})
  FROM c{sfx}0
),
c{sfx}2 AS (
  SELECT * REPLACE (CASE WHEN {ma} AND NOT diag AND {L1} < {va} AND {ok}
      THEN {va} ELSE {L1} END AS {L1})
  FROM c{sfx}1
),
c{sfx}3 AS (
  SELECT * REPLACE (({ok} AND NOT ({ma} AND diag AND {L1} > {va})) AS {ok})
  FROM c{sfx}2
),
c{sfx}4 AS (
  SELECT * REPLACE (CASE WHEN {ma} AND diag AND {H1} > {va} AND {ok}
      THEN {va} ELSE {H1} END AS {H1})
  FROM c{sfx}3
),
c{sfx}5 AS (
  SELECT *, ({H0} > {chi}) AS {mb}, {interp(chi)} AS {vb}
  FROM c{sfx}4
),
c{sfx}6 AS (
  SELECT * REPLACE (({ok} AND NOT ({mb} AND {L0} > {chi})) AS {ok})
  FROM c{sfx}5
),
c{sfx}7 AS (
  SELECT * REPLACE (CASE WHEN {mb} AND {ok} THEN {chi} ELSE {H0} END AS {H0},
    ({ok} AND NOT ({mb} AND diag AND {H1} < {vb})) AS {ok})
  FROM c{sfx}6
),
c{sfx}8 AS (
  SELECT * REPLACE (CASE WHEN {mb} AND diag AND {L1} < {vb} AND {ok}
      THEN {vb} ELSE {L1} END AS {L1})
  FROM c{sfx}7
),
c{sfx}9 AS (
  SELECT * REPLACE (({ok} AND NOT ({mb} AND NOT diag AND {L1} > {vb})) AS {ok},
    CASE WHEN {mb} AND NOT diag AND {H1} > {vb}
      AND {ok} AND NOT ({mb} AND NOT diag AND {L1} > {vb})
      THEN {vb} ELSE {H1} END AS {H1})
  FROM c{sfx}8
)"""


def edge_cell_clips_oracle_sql(
    table: str, key: str, key2: str, level: int, id_expr: str | None = None
) -> str:
    """DuckDB replay of edge_cell_clips: the edge_cells pipeline (hits)
    followed by the ClipEdge bound-update sequence (ClipEdgeBound ->
    ClipBoundAxis x2 -> endpoint extraction), bit-exact vs the NumPy
    kernel."""
    ctes, where = _edge_cells_pick_sql(table, key, key2, level, id_expr)
    pass_u = _clip_axis_ctes(
        "u", "au", "bu", "lo0", "hi0", "av", "bv", "lo1", "hi1",
        "culo", "cuhi", "k0",
    )
    pass_v = _clip_axis_ctes(
        "v", "av", "bv", "lo1", "hi1", "au", "bu", "lo0", "hi0",
        "cvlo", "cvhi", "cu9",
    )
    return f"""
WITH {ctes},
hits AS MATERIALIZED (
  SELECT eid, face, ci, cj, au, av, bu, bv, culo, cuhi, cvlo, cvhi
  FROM pick
  WHERE {where}
),
k0 AS (
  SELECT *,
    least(au, bu) AS lo0, greatest(au, bu) AS hi0,
    least(av, bv) AS lo1, greatest(av, bv) AS hi1,
    ((au > bu) != (av > bv)) AS diag
  FROM hits
),
{pass_u},
{pass_v}
SELECT eid, face, ci, cj,
  CASE WHEN au > bu THEN hi0 ELSE lo0 END AS cau,
  CASE WHEN av > bv THEN hi1 ELSE lo1 END AS cav,
  CASE WHEN au > bu THEN lo0 ELSE hi0 END AS cbu,
  CASE WHEN av > bv THEN lo1 ELSE hi1 END AS cbv
FROM cv9
WHERE oku AND okv
"""
