"""Each correctness check fails on a deliberately corrupted output."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import run
import world


@pytest.fixture(scope="module")
def geo():
    return world.make_geo_world(11)


def _write_finals(out, cities, langs):
    (out / "cities").mkdir(parents=True)
    (out / "cities_languages").mkdir(parents=True)
    ids = sorted(cities)
    cols = list(zip(*(cities[i] for i in ids)))
    pq.write_table(
        pa.table(
            {
                "id": ids,
                "country": list(cols[0]),
                "2nd_id": list(cols[1]),
                "2nd_iso": list(cols[2]),
                "population": pa.array(cols[3], type=pa.int64()),
            }
        ),
        out / "cities" / "part-0.parquet",
    )
    pairs = sorted(langs)
    pq.write_table(
        pa.table({"id": [p[0] for p in pairs], "lang": [p[1] for p in pairs]}),
        out / "cities_languages" / "part-0.parquet",
    )


def _corrupt(cities, field):
    bad = dict(cities)
    cid = sorted(c for c, v in bad.items() if v[field] is not None)[0]
    row = list(bad[cid])
    row[field] = "XX" if field != 3 else row[3] + 1
    bad[cid] = tuple(row)
    return bad


def test_geo_check_accepts_the_facts(geo, tmp_path):
    _write_finals(tmp_path, geo.cities, geo.city_languages)
    assert run.check_geo(geo, tmp_path) == []


@pytest.mark.parametrize("field", [0, 1, 2, 3])  # country, 2nd id, 2nd iso, population
def test_geo_check_fails_on_a_wrong_value(geo, tmp_path, field):
    _write_finals(tmp_path, _corrupt(geo.cities, field), geo.city_languages)
    assert run.check_geo(geo, tmp_path)


def test_geo_check_fails_on_a_missing_city(geo, tmp_path):
    cities = dict(geo.cities)
    cities.pop(sorted(cities)[0])
    _write_finals(tmp_path, cities, geo.city_languages)
    assert run.check_geo(geo, tmp_path)


def test_geo_check_fails_on_a_missing_city_language(geo, tmp_path):
    _write_finals(tmp_path, geo.cities, sorted(geo.city_languages)[1:])
    assert run.check_geo(geo, tmp_path)


def test_query_check_is_order_insensitive_and_catches_corruption(tmp_path):
    from geo_db_spark import workload
    from geo_db_spark.verify import _norm_rows

    world.write_query_tables(5, str(tmp_path))
    oracle = run.oracle_rows(tmp_path)
    import duckdb

    con = duckdb.connect()
    for t in ("nation", "part"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tmp_path}/{t}.parquet'")
    q = "x9_ancestor_label_resolution"
    rel = con.sql(workload.oracle_sql()[q])
    rows, cols = rel.fetchall(), rel.columns
    bad = [tuple(r) for r in rows]
    bad[0] = bad[0][:-1] + (bad[0][-1] + "x",)

    def check(rs):
        return run.check_queries([("pass0", {q: _norm_rows(rs, cols)})], oracle)

    assert check(rows[::-1]) == []
    assert check(rows[1:])
    assert check(bad)


def _write_tables(root, tables):
    for name, rows in tables.items():
        (root / name).mkdir(parents=True)
        pq.write_table(pa.Table.from_pylist(rows), root / name / "part-0.parquet")


@pytest.fixture()
def ingest_tables():
    return {
        name: [{"id": f"Q{i}", "v": i % 3} for i in range(5)]
        for name in run.TABLES
    }


def test_catch_up_check_accepts_equal_tables(tmp_path, ingest_tables):
    _write_tables(tmp_path / "raw", ingest_tables)
    # same rows, another order and column order
    _write_tables(
        tmp_path / "final",
        {n: [{"v": r["v"], "id": r["id"]} for r in rows[::-1]] for n, rows in ingest_tables.items()},
    )
    assert run.check_catch_up(tmp_path / "raw", tmp_path / "final") == []


@pytest.mark.parametrize("corruption", ["drop", "duplicate", "change"])
def test_catch_up_check_fails_on_a_corrupted_table(tmp_path, ingest_tables, corruption):
    _write_tables(tmp_path / "raw", ingest_tables)
    rows = [dict(r) for r in ingest_tables["cities"]]
    if corruption == "drop":
        rows.pop()
    elif corruption == "duplicate":
        rows.append(rows[0])
    else:
        rows[0]["v"] += 1
    _write_tables(tmp_path / "final", {**ingest_tables, "cities": rows})
    problems = run.check_catch_up(tmp_path / "raw", tmp_path / "final")
    assert len(problems) == 1 and problems[0].startswith("cities:")


def test_catch_up_check_wants_one_copy_of_each_duplicate_label(tmp_path, ingest_tables):
    labels = ingest_tables["object_labels"]
    # batch ingest keeps an identical duplicate row; finalize keeps one
    _write_tables(tmp_path / "raw", {**ingest_tables, "object_labels": labels + labels[:1]})
    _write_tables(tmp_path / "final", ingest_tables)
    assert run.check_catch_up(tmp_path / "raw", tmp_path / "final") == []
    bads = (labels[1:], labels + labels[:1], [{**labels[0], "v": 7}] + labels[1:])
    for k, bad in enumerate(bads):  # a row lost, a duplicate kept, a value changed
        _write_tables(tmp_path / f"bad{k}", {**ingest_tables, "object_labels": bad})
        problems = run.check_catch_up(tmp_path / "raw", tmp_path / f"bad{k}")
        assert len(problems) == 1 and problems[0].startswith("object_labels:")
