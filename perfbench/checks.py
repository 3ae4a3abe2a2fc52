"""Output checks: every op's output against an answer the engine did not
compute.

* Query ops: the op's DuckDB oracle (``SparkEntry.oracleSql``) run over the
  same estate subsample, both sides canonicalized as ``tools/compare.py``
  does (columns sorted by name, rows sorted, dtype kinds and exact values
  compared).
* ``sensor_etl``: window aggregates DuckDB computes from the generator's
  ground-truth values, compared with both Parquet sinks as multisets; and
  a sample of readings decoded by ``Pipeline.decode`` compared with the
  ground truth row by row.

Expected answers are cached beside the inputs, keyed by seed (and, for
queries, by the oracle text).
"""
import glob
import hashlib
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

# --- sensor_etl ---------------------------------------------------------------

EXPECTED_SENSOR_SQL = """
WITH r AS (
  SELECT * FROM truth WHERE valid AND mac IN (SELECT mac FROM tags)),
w AS (SELECT *, epoch_us(ts) // 1800000000 AS wb FROM r),
mv AS (
  SELECT DISTINCT mac, wb,
    first_value(mov) OVER win AS f, last_value(mov) OVER win AS l
  FROM w WINDOW win AS (PARTITION BY mac, wb ORDER BY ts, mov
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
agg AS (
  SELECT mac, wb,
    round((sum(temp_c)::DOUBLE / count(*)) / 100 * 100, 0) / 100 AS temperature,
    round((sum(hum_c)::DOUBLE / count(*)) / 100 * 100, 0) / 100 AS humidity,
    round((sum(press_pa)::DOUBLE / count(*)) / 100 * 100, 0) / 100 AS pressure,
    round((sum(ax)::DOUBLE / count(*)) / 1000 * 1000, 0) / 1000 AS acceleration_x,
    round((sum(ay)::DOUBLE / count(*)) / 1000 * 1000, 0) / 1000 AS acceleration_y,
    round((sum(az)::DOUBLE / count(*)) / 1000 * 1000, 0) / 1000 AS acceleration_z,
    count(*)::INT AS samples
  FROM w GROUP BY mac, wb)
SELECT (agg.wb + 1) * 1800000000 AS time_us, agg.mac,
  temperature, humidity, pressure, acceleration_x, acceleration_y, acceleration_z,
  (((mv.l - mv.f) % 256 + 256) % 256)::INT AS movement_counter, samples, tags.name
FROM agg JOIN mv USING (mac, wb) JOIN tags USING (mac)
"""

SENSOR_SINKS = {
    "sensor_data": ["mac", "temperature", "humidity", "pressure", "samples", "name"],
    "movement_data": ["mac", "acceleration_x", "acceleration_y", "acceleration_z",
                      "movement_counter", "samples", "name"],
}


def _atomic_write(path, write):
    tmp = path + ".tmp"
    write(tmp)
    os.replace(tmp, path)


def sensor_expected(data):
    path = os.path.join(data, "expected.parquet")
    if not os.path.exists(path):
        con = duckdb.connect()
        con.execute(f"CREATE VIEW truth AS SELECT * FROM read_parquet('{data}/truth.parquet')")
        con.execute(f"CREATE VIEW tags AS SELECT * FROM read_parquet('{data}/tags.parquet')")
        _atomic_write(path, lambda p: con.execute(
            f"COPY ({EXPECTED_SENSOR_SQL}) TO '{p}' (FORMAT PARQUET)"))
    return path


def _multiset_diff(con, left, right, cols):
    sel = ", ".join(cols)
    return con.execute(f"""
        SELECT count(*) FROM (
          (SELECT {sel} FROM {left} EXCEPT ALL SELECT {sel} FROM {right})
          UNION ALL
          (SELECT {sel} FROM {right} EXCEPT ALL SELECT {sel} FROM {left}))
    """).fetchone()[0]


class SensorCheck:
    """The expected window aggregates of one seed, loaded once per run."""

    def __init__(self, data):
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE TABLE exp AS SELECT * FROM read_parquet('{sensor_expected(data)}')")
        self.empty = self.con.execute("SELECT count(*) FROM exp").fetchone()[0] == 0

    def __call__(self, out_dir):
        """Problems with one pass's dual sink (empty list when it is right)."""
        if self.empty:
            return ["expected answer is empty"]
        problems = []
        for sink, cols in SENSOR_SINKS.items():
            files = glob.glob(os.path.join(out_dir, sink, "*.parquet"))
            if not files:
                problems.append(f"{sink}: no output")
                continue
            self.con.execute(f"""CREATE OR REPLACE VIEW got AS
                SELECT *, epoch_us(time) AS time_us FROM read_parquet({files!r})""")
            n = _multiset_diff(self.con, "got", "exp", cols + ["time_us"])
            if n:
                problems.append(f"{sink}: {n} rows differ from the expected aggregates")
        return problems


def check_decode_sample(data, decoded_dir):
    """Pipeline.decode over the sample rows must reproduce the ground truth
    of the well-formed rows and drop the malformed ones."""
    files = glob.glob(os.path.join(decoded_dir, "*.parquet"))
    if not files:
        return ["decode sample: no output"]
    con = duckdb.connect()
    con.execute(f"""CREATE VIEW got AS SELECT upper(mac) AS mac, epoch_us(ts) AS ts_us,
        temperature AS t, humidity AS h, pressure AS p, acceleration_x AS ax,
        acceleration_y AS ay, acceleration_z AS az, movement_counter AS m
        FROM read_parquet({files!r})""")
    con.execute(f"""CREATE VIEW want AS SELECT mac, epoch_us(ts) AS ts_us,
        temp_c::DOUBLE / 100 AS t, hum_c::DOUBLE / 100 AS h, press_pa::DOUBLE / 100 AS p,
        ax::DOUBLE / 1000 AS ax, ay::DOUBLE / 1000 AS ay, az::DOUBLE / 1000 AS az, mov AS m
        FROM read_parquet('{data}/truth.parquet')
        WHERE valid AND "row" IN (SELECT "row" FROM read_parquet('{data}/sample.parquet'))""")
    n = _multiset_diff(con, "got", "want", ["mac", "ts_us", "t", "h", "p", "ax", "ay", "az", "m"])
    return [f"decode sample: {n} rows differ from the ground truth"] if n else []


# --- query ops ----------------------------------------------------------------

def canon(df):
    """tools/compare.py's canonical form."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype.kind == "M":
            df[c] = df[c].astype("datetime64[ns]")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _kinds(df):
    return [str(t.kind) + str(getattr(t, "itemsize", "")) for t in df.dtypes]


class Oracle:
    """DuckDB over one estate directory, with expected answers cached there."""

    def __init__(self, estate):
        self.estate = estate
        self.con = None
        self.memo = {}

    def _connect(self):
        if self.con is None:
            self.con = duckdb.connect()
            for p in glob.glob(os.path.join(self.estate, "*.parquet")):
                name = os.path.basename(p)[:-8]
                self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
        return self.con

    def expected(self, name, sql):
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        if key not in self.memo:
            os.makedirs(os.path.join(self.estate, "expected"), exist_ok=True)
            path = os.path.join(self.estate, "expected", f"{name}-{key}.pkl")
            if not os.path.exists(path):
                df = self._connect().execute(sql).df()
                _atomic_write(path, df.to_pickle)
            self.memo[key] = canon(pd.read_pickle(path))
        return self.memo[key]


def check_query(oracle, name, sql, out_dir):
    """Problems with one query op's output (empty list when it is right)."""
    if sql is None:
        return [f"{name}: no oracle"]
    want = oracle.expected(name, sql)
    if len(want) == 0:
        return [f"{name}: the oracle returns no rows on this estate"]
    if not glob.glob(os.path.join(out_dir, "*.parquet")):
        return [f"{name}: no output"]
    got = canon(pq.read_table(out_dir).to_pandas())
    if list(got.columns) != list(want.columns):
        return [f"{name}: columns {list(got.columns)} vs {list(want.columns)}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows vs {len(want)}"]
    if _kinds(got) != _kinds(want):
        return [f"{name}: dtypes {_kinds(got)} vs {_kinds(want)}"]
    try:
        pd.testing.assert_frame_equal(got, want, check_exact=True)
    except AssertionError as e:
        return [f"{name}: values differ: {str(e).splitlines()[-1][:200]}"]
    return []
