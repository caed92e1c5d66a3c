"""Output checks for one benchmark run, against DuckDB over the same inputs.

Every op's output from the last timed pass is graded here:

- ``oracle``: a registered query's collected result against the DuckDB
  oracle SQL graft ships with it (the graded declarative twin);
- ``daily``: each day file of ``Flagship.runDailyExport`` against a DuckDB
  resample with forward fill over that day;
- ``window``: each window file of ``Flagship.run`` (long layout) against
  DuckDB's ``corr`` over the same resampled session;
- ``wide``: each square matrix of ``Flagship.runWideAtWidth`` against a
  pairwise-complete Pearson matrix computed with numpy from the same
  DuckDB panel.

Floats agree when they differ by at most one unit in the sixth decimal,
the precision graft rounds its exported and graded figures to.
"""
import glob
import math
import os

import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
TOL = 1.5e-6


def connect(in_dir):
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{in_dir}/{t}.parquet')")
    return con


def ts_sql(sec):
    return f"make_timestamp({int(sec) * 1_000_000})"


def ffill_sql(users, a, b, step):
    """The resample + forward-fill panel as a DuckDB query: a per-bucket
    exact average, the grid of buckets x series with ticks, and the last
    non-null average carried forward."""
    ep = "(epoch_ms(ts) // 1000)"
    return f"""
      WITH b AS (
        SELECT {ep} - {ep} % {step} AS bucket, user_id,
          round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                / count(value), 6) AS v
        FROM events
        WHERE user_id < {users} AND ts >= {ts_sql(a)} AND ts < {ts_sql(b)}
        GROUP BY 1, 2),
      g AS (
        SELECT r.range AS bucket, k.user_id
        FROM range({a}, {b}, {step}) r
          CROSS JOIN (SELECT DISTINCT user_id FROM b) k)
      SELECT g.bucket, g.user_id,
        last_value(b.v IGNORE NULLS) OVER (
          PARTITION BY g.user_id ORDER BY g.bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS price
      FROM g LEFT JOIN b ON g.bucket = b.bucket AND g.user_id = b.user_id"""


def _close(x, y):
    xn = x is None or (isinstance(x, float) and math.isnan(x))
    yn = y is None or (isinstance(y, float) and math.isnan(y))
    if xn or yn:
        return xn and yn
    if isinstance(x, float) or isinstance(y, float):
        return abs(float(x) - float(y)) <= TOL
    return x == y


def _order(row):
    """Sort key: exact values first, so rows keyed by ids pair up however
    their floats round; floats only break ties."""
    exact, floats = [], []
    for v in row:
        if v is None or (isinstance(v, float) and math.isnan(v)):
            exact.append((1, ""))
        elif isinstance(v, float):
            floats.append(round(v, 5))
        else:
            exact.append((0, v))
    return tuple(exact), tuple(floats)


def same_rows(want, got):
    """Multiset equality of row tuples, floats within TOL."""
    if len(want) != len(got):
        return f"{len(got)} rows, want {len(want)}"
    for w, g in zip(sorted(want, key=_order), sorted(got, key=_order)):
        if len(w) != len(g) or not all(_close(a, b) for a, b in zip(w, g)):
            return f"row {g!r}, want {w!r}"
    return None


def check_oracle(con, out_dir, c):
    want = con.execute(c["sql"])
    wcols = [d[0] for d in want.description]
    want = want.fetchall()
    got = con.execute(
        f"SELECT * FROM read_parquet('{out_dir}/{c['name']}/*.parquet')")
    gcols = [d[0] for d in got.description]
    got = got.fetchall()
    if sorted(wcols) != sorted(gcols):
        return f"columns {gcols}, want {wcols}"
    gi = [gcols.index(n) for n in wcols]
    return same_rows(want, [tuple(r[i] for i in gi) for r in got])


def check_daily(con, out_dir, c):
    for day in c["days"]:
        a = con.execute(f"SELECT epoch(DATE '{day}')::BIGINT").fetchone()[0]
        want = con.execute(ffill_sql(c["users"], a, a + 86400, c["freq"]) +
                           " ").fetchall()
        f = f"{out_dir}/{day[:4]}/{day[5:7]}/taq_resampled_{day}.csv.gz"
        if not os.path.exists(f):
            return f"missing {f}"
        got = con.execute(
            f"SELECT bucket, user_id, value FROM read_csv('{f}', header=true,"
            " columns={'bucket': 'BIGINT', 'user_id': 'BIGINT',"
            " 'value': 'DOUBLE'})").fetchall()
        bad = same_rows(want, got)
        if bad:
            return f"{day}: {bad}"
    return None


def check_window(con, out_dir, c):
    panel = ffill_sql(c["users"], c["open"], c["close"], c["freq"])
    for ws in range(c["open"], c["close"], c["window"]):
        we = min(ws + c["window"], c["close"])
        want = con.execute(f"""
          WITH f AS ({panel})
          SELECT a.user_id AS i, b.user_id AS j,
            round(corr(a.price, b.price), 6) AS rho
          FROM f a JOIN f b ON a.bucket = b.bucket AND a.user_id < b.user_id
          WHERE a.bucket >= {ws} AND a.bucket < {we}
          GROUP BY 1, 2""").fetchall()
        files = glob.glob(f"{out_dir}/corr_{ws}_{we}/*.csv")
        if len(files) != 1:
            return f"window {ws}: {len(files)} csv files"
        got = con.execute(
            f"SELECT i, j, rho FROM read_csv('{files[0]}', header=true,"
            " columns={'i': 'BIGINT', 'j': 'BIGINT', 'rho': 'DOUBLE'})"
        ).fetchall()
        bad = same_rows(want, got)
        if bad:
            return f"window {ws}: {bad}"
    return None


def pearson_matrix(x):
    """Pairwise-complete Pearson over the columns of x (NaN = missing)."""
    m = (~np.isnan(x)).astype(float)
    v = np.nan_to_num(x)
    # centre per column for numerical stability; Pearson is shift-free
    mu = np.where(m.sum(0) > 0, v.sum(0) / np.maximum(m.sum(0), 1), 0.0)
    v = (v - mu) * m
    n = m.T @ m
    sx = v.T @ m
    sxx = (v * v).T @ m
    sxy = v.T @ v
    cov = n * sxy - sx * sx.T
    # a series constant over the overlap has zero variance; rounding
    # leaves a residue far below any real spread of cent prices
    vx = n * sxx - sx * sx
    flat = vx <= 1e-9 * n * sxx
    var = vx * vx.T
    with np.errstate(invalid="ignore", divide="ignore"):
        r = cov / np.sqrt(var)
    r[(n < 2) | flat | flat.T] = np.nan
    return r


def check_wide(con, out_dir, c):
    rows = con.execute(
        ffill_sql(c["users"], c["open"], c["close"], c["freq"]) +
        " ORDER BY 1, 2").fetchall()
    ids = sorted({u for _, u, _ in rows})
    buckets = sorted({b for b, _, _ in rows})
    col = {u: k for k, u in enumerate(ids)}
    brow = {b: k for k, b in enumerate(buckets)}
    x = np.full((len(buckets), len(ids)), np.nan)
    for b, u, p in rows:
        if p is not None:
            x[brow[b], col[u]] = p
    bk = np.array(buckets)
    for ws in range(c["open"], c["close"], c["window"]):
        we = min(ws + c["window"], c["close"])
        r = pearson_matrix(x[(bk >= ws) & (bk < we)])
        np.fill_diagonal(r, 1.0)
        files = glob.glob(f"{out_dir}/corr_{ws}_{we}/*.csv")
        if len(files) != 1:
            return f"window {ws}: {len(files)} csv files"
        with open(files[0]) as f:
            lines = f.read().splitlines()
        head = lines[0].split(",")[1:]
        if [int(h) for h in head] != ids or len(lines) != len(ids) + 1:
            return f"window {ws}: ids differ from the panel's"
        got = np.array([[float(v) if v else np.nan
                         for v in ln.split(",")[1:]] for ln in lines[1:]])
        both = np.isnan(got) == np.isnan(r)
        if not both.all():
            return f"window {ws}: {int((~both).sum())} cells defined differently"
        d = np.nan_to_num(np.abs(got - r))
        if d.max() > TOL:
            return f"window {ws}: max cell difference {d.max():.3g}"
    return None


KINDS = {"oracle": check_oracle, "daily": check_daily,
         "window": check_window, "wide": check_wide}


def run_checks(in_dir, check_dir, checks):
    """Returns {op name: error or None} over every op's checks."""
    con = connect(in_dir)
    res = {}
    for c in checks:
        if res.get(c["op"]):
            continue
        if not c["ok"]:
            res[c["op"]] = "an op call failed or calls disagreed"
            continue
        out_dir = os.path.join(check_dir, c["op"])
        try:
            err = KINDS[c["kind"]](con, out_dir, c)
        except Exception as e:  # a check that cannot run is a failed check
            err = str(e)[:300]
        res[c["op"]] = f"{c['name']}: {err}" if err else None
    return res
