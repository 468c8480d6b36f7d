"""Output checks for the grid workloads.

The references are DuckDB SQL over the same generated parquet, computed
during set-up; `compare` holds each query's Spark result against its
reference. Exact columns (integers, decimals) must match bit for bit,
floating columns within 1e-9 relative, and NaN and NULL must sit in the
same places.
"""
import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REL_TOL = 1e-9
# Binning edges of the bins_expected query (GridQueries.BinEdges)
BIN_EDGES = [-1.0, -0.5, 0.0, 0.25, 0.5, 0.75, 1.0]

G = "(SELECT *, CASE WHEN isnan(v) THEN NULL ELSE v END AS vn FROM read_parquet('{path}'))"
COLS = "t, doy, cell, v, cents, w"


def _bins():
    bins = list(enumerate(zip(BIN_EDGES, BIN_EDGES[1:])))
    case = " ".join(f"WHEN w > {lo} AND w <= {hi} THEN {i}" for i, (lo, hi) in bins)
    values = ", ".join(f"({i}, {lo}, {hi})" for i, (lo, hi) in bins)
    return (f"WITH e(wbin, wbin_lo, wbin_hi) AS (VALUES {values}),"
            f" c AS (SELECT CASE {case} END AS wbin, count(vn) AS n, sum(cents) AS s FROM g GROUP BY 1)"
            " SELECT e.wbin::INT AS wbin, e.wbin_lo::DOUBLE AS wbin_lo, e.wbin_hi::DOUBLE AS wbin_hi,"
            " coalesce(c.n, 0)::BIGINT AS n, coalesce(c.s, 0)::BIGINT AS sum_cents"
            " FROM e LEFT JOIN c USING (wbin)")


def _scan(func, by):
    frame = {"nancumsum": "coalesce(sum(vn) OVER w, 0.0)",
             "ffill": "last_value(vn IGNORE NULLS) OVER w",
             "bfill": "first_value(vn IGNORE NULLS) OVER w"}[func]
    rows = ("CURRENT ROW AND UNBOUNDED FOLLOWING" if func == "bfill"
            else "UNBOUNDED PRECEDING AND CURRENT ROW")
    return (f"SELECT {COLS}, {frame} AS acc FROM g"
            f" WINDOW w AS (PARTITION BY {by} ORDER BY t ROWS BETWEEN {rows})")


# query name -> (key columns, reference SQL over the view g)
REFERENCES = {
    "reduce_doy": (["doy"],
        "SELECT doy, count(vn) AS n, coalesce(sum(vn), 0.0) AS sum_v, avg(vn) AS mean_v,"
        " var_samp(vn) AS var_v, min(vn) AS min_v, max(vn) AS max_v,"
        " sum(cents)::BIGINT AS sum_cents, sum(w::DECIMAL(18,2)) AS sum_w FROM g GROUP BY doy"),
    "positional_doy": (["doy"],
        "WITH m AS (SELECT doy, max(vn) AS mx FROM g GROUP BY doy)"
        " SELECT doy, min(t) FILTER (WHERE vn = mx) AS argmax_t,"
        " arg_min(vn, t) FILTER (WHERE vn IS NOT NULL) AS first_v,"
        " arg_max(vn, t) FILTER (WHERE vn IS NOT NULL) AS last_v"
        " FROM g JOIN m USING (doy) GROUP BY doy"),
    "covcorr_doy": (["doy"],
        "WITH p AS (SELECT doy, vn::DECIMAL(18,2) AS x, w::DECIMAL(18,2) AS y FROM g WHERE vn IS NOT NULL),"
        " s AS (SELECT doy, count(*) AS n_pairs, count(*)::DOUBLE AS n, sum(x)::DOUBLE AS sx,"
        " sum(y)::DOUBLE AS sy, sum(x * y)::DOUBLE AS sxy, sum(x * x)::DOUBLE AS sxx,"
        " sum(y * y)::DOUBLE AS syy FROM p GROUP BY doy),"
        " f AS (SELECT doy, n_pairs, (sxy - sx * sy / n) / (n - 1.0) AS cov,"
        " greatest((sxx - sx * sx / n) / (n - 1.0), 0.0) AS vx,"
        " greatest((syy - sy * sy / n) / (n - 1.0), 0.0) AS vy FROM s)"
        " SELECT doy, n_pairs, CASE WHEN n_pairs > 1 THEN cov END AS cov,"
        " CASE WHEN n_pairs > 1 AND vx > 0 AND vy > 0 THEN cov / sqrt(vx * vy) END AS corr FROM f"),
    "bins_expected": (["wbin"], _bins()),
    "reduce_cell": (["cell"],
        "SELECT cell, count(vn) AS n, coalesce(sum(vn), 0.0) AS sum_v, avg(vn) AS mean_v,"
        " min(vn) AS min_v, max(vn) AS max_v, sum(cents)::BIGINT AS sum_cents FROM g GROUP BY cell"),
    "nancumsum_cell": (["t"], _scan("nancumsum", "cell")),
    "ffill_doy": (["t"], _scan("ffill", "doy")),
    "bfill_doy": (["t"], _scan("bfill", "doy")),
}


WORKLOADS = {
    "grid_reduce": ["reduce_doy", "positional_doy", "covcorr_doy", "bins_expected"],
    "grid_scan": ["reduce_cell", "nancumsum_cell", "ffill_doy", "bfill_doy"],
}


def references(path, names):
    """Reference tables of the named queries over the parquet at `path`."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW g AS {G.format(path=path)}")
    out = {n: (REFERENCES[n][0], con.sql(REFERENCES[n][1]).arrow()) for n in names}
    con.close()
    return out


def _differ(g, w):
    """Boolean mask of the rows where column g differs from column w."""
    gnull = g.is_null().to_numpy(zero_copy_only=False)
    wnull = w.is_null().to_numpy(zero_copy_only=False)
    if pa.types.is_floating(g.type):
        a = g.fill_null(0.0).to_numpy()
        b = w.cast(pa.float64()).fill_null(0.0).to_numpy()
        with np.errstate(invalid="ignore"):
            close = (a == b) | (np.abs(a - b) <= REL_TOL * np.maximum(np.abs(a), np.abs(b)))
        same = (np.isnan(a) & np.isnan(b)) | (~np.isnan(a) & ~np.isnan(b) & close)
    elif pa.types.is_integer(g.type) and pa.types.is_integer(w.type):
        same = g.fill_null(0).to_numpy() == w.fill_null(0).to_numpy()
    else:
        same = np.array([x == y for x, y in zip(g.to_pylist(), w.to_pylist())], dtype=bool)
    return (gnull != wnull) | (~gnull & ~wnull & ~same)


def compare(result_dir, keys, want):
    """Findings for one query; empty when its result matches."""
    got = pq.read_table(result_dir)
    if sorted(got.column_names) != sorted(want.column_names):
        return [f"columns {sorted(got.column_names)} != {sorted(want.column_names)}"]
    if got.num_rows != want.num_rows:
        return [f"rows {got.num_rows} != {want.num_rows}"]
    order = [(k, "ascending") for k in keys]
    got, want = got.sort_by(order), want.sort_by(order)
    findings = []
    for c in sorted(got.column_names):
        n = int(_differ(got.column(c).combine_chunks(), want.column(c).combine_chunks()).sum())
        if n:
            findings.append(f"column {c}: {n} of {got.num_rows} rows differ")
    return findings
