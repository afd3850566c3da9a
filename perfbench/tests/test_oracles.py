"""The oracles accept a correct output and catch a corrupted one."""

import duckdb
import pytest

import gen
import oracles


@pytest.fixture(scope="module")
def refjobs(tmp_path_factory):
    root = tmp_path_factory.mktemp("refjobs")
    gen.refjobs(root, 5)
    return root, oracles.RefjobsOracle(root)


def write_expected(oracle, job, out):
    """The sink a correct job writes, rebuilt from the oracle's table."""
    out.mkdir(parents=True, exist_ok=True)
    if job.startswith("user_"):
        rows = oracle.con.execute(
            f"SELECT key, list(info_id || '@' || CAST(score AS VARCHAR) ORDER BY pos) "
            f"FROM exp_{job} GROUP BY key").fetchall()
        lines = [f'{k}\x01{{"infoids":"{",".join(v)}"}}' for k, v in rows]
    else:
        lines = [r[0] for r in oracle.con.execute(f"SELECT line FROM exp_{job}").fetchall()]
    (out / "part-00000").write_text("\n".join(lines) + "\n")
    return lines


@pytest.mark.parametrize("job", ["max_temperature", "reduce_join", "user_hotcar", "user_newcar"])
def test_refjobs_oracle_catches_a_corrupted_line(refjobs, tmp_path, job):
    _, oracle = refjobs
    lines = write_expected(oracle, job, tmp_path / "ok")
    assert oracle.mismatches(job, tmp_path / "ok") == 0
    bad = tmp_path / "bad"
    bad.mkdir()
    lines[len(lines) // 2] = lines[len(lines) // 2].replace("1", "2", 1)
    (bad / "part-00000").write_text("\n".join(lines[:-1] + [lines[-1]]))
    assert oracle.mismatches(job, bad) > 0
    (bad / "part-00000").write_text("\n".join(write_expected(oracle, job, tmp_path / "x")[1:]))
    assert oracle.mismatches(job, bad) > 0  # a missing row


def test_recommendations_cover_ties_and_degenerate_groups(refjobs):
    _, oracle = refjobs
    nan = oracle.con.execute("SELECT count(*) FROM exp_user_hotcar WHERE isnan(score)").fetchone()[0]
    assert nan > 0
    cut = oracle.con.execute("SELECT max(pos) FROM exp_user_hotcar").fetchone()[0]
    assert cut == 100  # some groups are longer than the top-100 cut


def test_same_rows_exact_and_corrupted():
    cols = ["id_a", "id_b", "jaccard"]
    rows = [(1, 2, 0.75), (3, 4, float("nan"))]
    assert oracles.same_rows(list(reversed(rows)), cols, rows, cols)
    assert oracles.same_rows([(2, 1, 0.75), (4, 3, float("nan"))], ["id_b", "id_a", "jaccard"], rows, cols)
    assert not oracles.same_rows([(1, 2, 0.76), rows[1]], cols, rows, cols)
    assert not oracles.same_rows(rows[:1], cols, rows, cols)


def test_fast_set_similarity_oracle_equals_the_registry_one(tmp_path):
    from hadoop_app_spark.queries import REGISTRY

    gen.curation(tmp_path, 2)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet' WHERE doc_id < 250")
    fast = sorted(con.execute(oracles.set_similarity_join_oracle()).fetchall())
    brute = sorted(con.execute(REGISTRY["set_similarity_join"].oracle).fetchall())
    assert fast == brute and fast


def test_ingest_replay_matches_the_two_generation_registry_oracle(tmp_path):
    """Days 0, 1, 2 as doc_id % 7 == 0, 1, 2: the N-day replay must keep
    exactly what the registry's dedup_increment oracle keeps."""
    from hadoop_app_spark.queries import _dedup_increment_oracle

    gen.curation(tmp_path, 3)
    docs = duckdb.sql(f"SELECT doc_id, text, n_chars FROM '{tmp_path}/documents.parquet'").arrow()
    days = [docs.filter(duckdb.sql(f"SELECT doc_id % 7 = {d} AS m FROM docs").arrow()["m"]) for d in range(3)]
    replay = oracles.IngestOracle(days).survivors
    con = duckdb.connect()
    con.register("documents", docs)
    want = {1: set(), 2: set()}
    for g, doc, _ in con.execute(_dedup_increment_oracle()).fetchall():
        want[g].add(doc)
    assert replay == want
    assert replay[1] != set(days[1]["doc_id"].to_pylist())  # something was deduped
