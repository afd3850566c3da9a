"""DuckDB oracles for every workload, computed over the generated inputs
and compared with the engine's outputs outside the timed region."""

from __future__ import annotations

import glob
import math
from pathlib import Path

import duckdb
import pyarrow as pa

from gen import NEWCAR_DT


def _lines(con, name: str, pattern: str) -> None:
    """Table ``name(line)`` of every text line in the files matching
    ``pattern``, split the way Spark's line reader splits files with no
    trailing newline."""
    lines = [line for f in sorted(glob.glob(pattern)) for line in Path(f).read_text().split("\n")]
    con.register("_lines", pa.table({"line": pa.array(lines, pa.string())}))
    con.execute(f"CREATE OR REPLACE TABLE {name} AS SELECT line FROM _lines")
    con.unregister("_lines")


# --------------------------------------------------------------- refjobs

_CARS = """
    SELECT p[1] AS city_id, split_part(c, '@', 1) AS info_id,
           TRY_CAST(split_part(c, '@', 2) AS DOUBLE) AS price
    FROM (SELECT p, unnest(string_split(
                 CASE WHEN json_valid(p[2]) THEN json_extract_string(p[2], '$.infoidlist') END, ',')) AS c
          FROM (SELECT string_split(line, chr(1)) AS p FROM {src}) WHERE len(p) >= 2)
    WHERE split_part(c, '@', 1) <> ''
"""

_RECS = """
    WITH prof AS (
        SELECT p[1] AS user_id,
               CASE WHEN json_valid(p[2]) THEN json_extract_string(p[2], '$.bycar_profile.cityid') END AS enc,
               COALESCE(TRY_CAST(CASE WHEN json_valid(p[2])
                        THEN json_extract_string(p[2], '$.bycar_profile.priceid') END AS DOUBLE), 0.0) AS fav
        FROM (SELECT string_split(line, chr(1)) AS p FROM profiles) WHERE len(p) >= 2),
    users AS (
        SELECT user_id, split_part(c, '@', 1) AS city_id, fav
        FROM (SELECT user_id, fav, unnest(string_split(enc, '$')) AS c FROM prof WHERE enc IS NOT NULL)
        WHERE split_part(c, '@', 1) <> ''),
    cars AS ({cars}),
    j AS (SELECT user_id, city_id, info_id, abs(fav - price) AS dist FROM users JOIN cars USING (city_id)),
    r AS (SELECT *, row_number() OVER (PARTITION BY user_id, city_id ORDER BY dist, info_id) AS rank,
                 min(dist) OVER (PARTITION BY user_id, city_id) AS mn,
                 max(dist) OVER (PARTITION BY user_id, city_id) AS mx
          FROM j)
    SELECT user_id || '_' || city_id AS key, rank AS pos, info_id,
           CASE WHEN mx = mn THEN 'NaN'::DOUBLE ELSE 1.0 - (dist - mn) / (mx - mn) END AS score
    FROM r WHERE rank <= {k}
"""

# the recommendation sink's lines parsed back into (key, pos, info_id, score)
_REC_OUT = """
    SELECT key, unnest(l) AS pair, unnest(range(1, len(l) + 1)) AS pos
    FROM (SELECT p[1] AS key, string_split(json_extract_string(p[2], '$.infoids'), ',') AS l
          FROM (SELECT string_split(line, chr(1)) AS p FROM {out}))
"""


class RefjobsOracle:
    """Expected sink contents of the four reference jobs."""

    def __init__(self, root: Path):
        self.con = con = duckdb.connect()
        for name in ("ncdc", "employee", "dept", "profiles", "hotcar"):
            _lines(con, name, f"{root}/{name}/*.txt")
        _lines(con, "newcar", f"{root}/newcar/dt={NEWCAR_DT}/*.txt")
        con.execute("""CREATE TABLE exp_max_temperature AS
            SELECT substr(line, 16, 4) || chr(9) || CAST(max(t) AS VARCHAR) AS line
            FROM (SELECT line, TRY_CAST(substr(line, 88, 5) AS INTEGER) AS t FROM ncdc)
            WHERE t IS NOT NULL GROUP BY substr(line, 16, 4)""")
        con.execute("""CREATE TABLE exp_reduce_join AS
            WITH e AS (SELECT p[1] AS name, TRY_CAST(p[2] AS BIGINT) AS salary,
                              TRY_CAST(p[3] AS BIGINT) AS dept_id
                       FROM (SELECT string_split(line, chr(9)) AS p FROM employee) WHERE len(p) = 3),
                 d AS (SELECT TRY_CAST(p[1] AS BIGINT) AS dept_id, p[2] AS dept_name
                       FROM (SELECT string_split(line, chr(9)) AS p FROM dept) WHERE len(p) = 2)
            SELECT concat_ws(chr(9), name, dept_id, dept_name, salary) AS line FROM e JOIN d USING (dept_id)""")
        for job, cars, k in (("user_hotcar", "hotcar", 100), ("user_newcar", "newcar", 60)):
            con.execute(f"CREATE TABLE exp_{job} AS "
                        + _RECS.format(cars=_CARS.format(src=cars), k=k))
        self.dropped = {
            name: con.execute(f"SELECT count(*) FROM {name} WHERE len(string_split(line, chr(1))) < 2").fetchone()[0]
            for name in ("profiles", "hotcar", "newcar")
        }

    def mismatches(self, job: str, out_dir: Path) -> int:
        """Rows in one side but not the other (as multisets) between a
        job's sink and its expected contents."""
        con = self.con
        _lines(con, "out", f"{out_dir}/part-*")
        if not job.startswith("user_"):
            got = "SELECT line FROM out WHERE line <> ''"
            exp = f"SELECT line FROM exp_{job}"
        else:
            got = ("SELECT key, pos, split_part(pair, '@', 1) AS info_id, "
                   "CAST(split_part(pair, '@', 2) AS DOUBLE) AS score FROM ("
                   + _REC_OUT.format(out="(SELECT line FROM out WHERE line <> '')") + ")")
            exp = f"SELECT key, pos, info_id, score FROM exp_{job}"
        return con.execute(
            f"SELECT (SELECT count(*) FROM ({got} EXCEPT ALL {exp})) "
            f"     + (SELECT count(*) FROM ({exp} EXCEPT ALL {got}))"
        ).fetchone()[0]

    def expected_rows(self, job: str) -> int:
        return self.con.execute(f"SELECT count(*) FROM exp_{job}").fetchone()[0]


# -------------------------------------------------------------- curation

def _norm(v, nd):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, nd) if nd is not None else v
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x, nd) for x in v)
    return v


def rows_key(rows, cols, nd=None):
    """Order-insensitive canonical form of a result (columns by name)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm(r[i], nd) for i in order) for r in rows), key=repr)


def same_rows(got_rows, got_cols, exp_rows, exp_cols) -> bool:
    """Equal as multisets, exactly or to six decimal places."""
    if sorted(got_cols) != sorted(exp_cols) or len(got_rows) != len(exp_rows):
        return False
    return any(rows_key(got_rows, got_cols, nd) == rows_key(exp_rows, exp_cols, nd) for nd in (None, 6))


def set_similarity_join_oracle() -> str:
    """Exact Jaccard of every doc pair that shares a shingle, counted
    through a shingle -> doc inverted list. Pairs sharing none have
    Jaccard 0, so this returns the registry's brute-force every-pair
    oracle's rows at a fraction of its cost (the tests pin the two equal)."""
    from hadoop_app_spark.queries import _TOKS

    return f"""
        WITH t0 AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        t AS (SELECT doc_id,
                     list_distinct([array_to_string(toks[i:i+2], ' ')
                                    for i in range(1, greatest(len(toks) - 2, 0) + 1)]) AS sh
              FROM t0),
        n AS (SELECT doc_id, len(sh) AS n FROM t WHERE len(sh) > 0),
        inv AS (SELECT doc_id, unnest(sh) AS s FROM t),
        p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        SELECT id_a, id_b, jaccard FROM (
            SELECT id_a, id_b, CAST(inter AS DOUBLE) / (na.n + nb.n - inter) AS jaccard
            FROM p JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b)
        WHERE jaccard >= 0.6
    """


class CurationOracle:
    """Each registry entry's DuckDB oracle over the generated corpus."""

    def __init__(self, corpus: Path, entries: list[str], registry):
        self.con = duckdb.connect()
        for t in ("documents", "embeddings"):
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
        self.expected = {}
        for name in entries:
            # the registry's every-pair set_similarity_join oracle is too slow to rerun per seed
            sql = set_similarity_join_oracle() if name == "set_similarity_join" else registry[name].oracle
            res = self.con.execute(sql)
            self.expected[name] = ([d[0] for d in res.description], res.fetchall())

    def check(self, name: str, cols: list[str], rows: list[tuple]) -> bool:
        exp_cols, exp_rows = self.expected[name]
        return same_rows(rows, cols, exp_rows, exp_cols)


# ---------------------------------------------------------------- ingest

class IngestOracle:
    """Day-by-day DuckDB replay of the MinHash index: the seed dedups day
    0, then each day drops a doc that hits the index or has a lower-id
    partner in its own day, and the survivors' bands join the index.
    This is the N-day form of the registry's two-generation
    ``_dedup_increment_oracle``; ``survivors[day]`` holds each day's ids."""

    def __init__(self, days):
        from hadoop_app_spark.queries import _minhash_banded_cte

        con = duckdb.connect()
        tables = [t.append_column("day", pa.array([d] * t.num_rows, pa.int32())) for d, t in enumerate(days)]
        con.register("feed", pa.concat_tables(tables))
        con.execute("CREATE VIEW documents AS SELECT doc_id, text, n_chars FROM feed")
        con.execute(f"""CREATE TABLE mb AS WITH {_minhash_banded_cte()}
            SELECT doc_id, b, bs, day FROM banded JOIN feed USING (doc_id)""")
        pair = "FROM mb a JOIN mb x ON a.b = x.b AND a.bs = x.bs AND a.doc_id < x.doc_id"
        con.execute(f"""CREATE TABLE idx AS SELECT b, bs FROM mb WHERE day = 0 AND doc_id NOT IN
            (SELECT x.doc_id {pair} WHERE a.day = 0 AND x.day = 0)""")
        self.survivors: dict[int, set] = {}
        for d in range(1, len(days)):
            con.execute(f"""CREATE OR REPLACE TABLE surv AS SELECT doc_id FROM feed
                WHERE day = {d} AND doc_id NOT IN (
                    SELECT a.doc_id FROM mb a JOIN idx ON a.b = idx.b AND a.bs = idx.bs WHERE a.day = {d}
                    UNION SELECT x.doc_id {pair} WHERE a.day = {d} AND x.day = {d})""")
            self.survivors[d] = {r[0] for r in con.execute("SELECT doc_id FROM surv").fetchall()}
            con.execute("INSERT INTO idx SELECT b, bs FROM mb WHERE doc_id IN (SELECT doc_id FROM surv)")
