"""The near-duplicate Jaccard kernel (operators/jaccard.py): one
threshold rule across the exact, MinHash and clustering queries and
their DuckDB oracles."""

import pytest

DOCS_DDL = "doc_id long, text string, lang string, source string, n_chars long"


@pytest.fixture(scope="module")
def boundary_dir(spark, tmp_path_factory):
    """Three same-lang docs: 1 holds 3,604 distinct tokens, 2 and 10 the
    same 3,603, each sharing 3,203 with doc 1 — J(1, 2) = J(1, 10) =
    3203/4004 = 0.79995, which rounds to 0.8 but is below it."""
    shared = [f"s{i}" for i in range(3203)]
    one = " ".join(shared + [f"u{i}" for i in range(401)])
    two = " ".join(shared + [f"v{i}" for i in range(400)])
    rows = [(d, t, "en", "s", len(t)) for d, t in ((1, one), (2, two), (10, two))]
    path = str(tmp_path_factory.mktemp("jaccard_boundary"))
    spark.createDataFrame(rows, DOCS_DDL).coalesce(1).write.parquet(
        f"{path}/documents.parquet"
    )
    return path


def _oracle(sf_dir, name):
    import duckdb

    import __spark_entry__ as m

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM"
        f" '{sf_dir}/documents.parquet/*.parquet'"
    )
    return set(con.sql(m.oracle_sql()[name]).fetchall())


def test_threshold_on_unrounded_jaccard(spark, boundary_dir):
    """A pair qualifies on its unrounded Jaccard: 0.79995 is out, even
    though its reported (rounded) value would read 0.8 — in the exact
    pair scan, the MinHash verify, the clustering edges and the oracles
    alike."""
    import __spark_entry__ as m

    want = {(2, 10, 1.0)}
    exact = {tuple(r) for r in m.q_neardup_token_jaccard(spark, boundary_dir).collect()}
    assert exact == want
    assert _oracle(boundary_dir, "neardup_token_jaccard") == want
    lsh = {tuple(r) for r in m.q_minhash_lsh_candidates(spark, boundary_dir).collect()}
    assert lsh == want

    comps = {(2, 2), (10, 2)}
    cc = {tuple(r) for r in m.q_dedup_connected_components(spark, boundary_dir).collect()}
    assert cc == comps
    assert _oracle(boundary_dir, "dedup_connected_components") == comps
