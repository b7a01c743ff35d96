"""The post phase's shared passes (plans/geo_post.py): one ancestor
closure per build, and one D6/D7/D8 pass over the union of city and
subdivision keys.

Fixture: QX is a 2nd-level TE that is ALSO a city. As a city its country
is Q2 (speaks beta); as a subdivision (of QC1, QC2 and of itself) its
MIN(country) is Q1 (speaks alpha). It has no native label and no
ancestor with languages, so D6 runs for QX in both roles and resolves
nothing, and D7 then reads QX's labels once per role, in a different
language each time. An untagged D7 key would return two rows for QX
and duplicate its spine row.

The parity fixture of tests/test_geo_post_parity.py is also checked here
against frozen outputs of the earlier post phase, which ran the closure
three times and D6/D7/D8 once per role. That test needs the reference's
SQL scripts at run time; this one repeats its inputs without them.
"""

from __future__ import annotations

import pytest

from tests.test_geo_post_parity import _spark_tables as _parity_tables

COUNTRIES = [("Q1", "aa"), ("Q2", "bb")]
LANGUAGES = [("QLa", "alpha"), ("QLb", "beta")]
OBJECT_LANGUAGES = [("Q1", "QLa", 0), ("Q2", "QLb", 0)]
TERRITORIAL_ENTITIES = [("QX", True, "X-1"), ("QT", False, None)]
TE_PARENTS = [("QC1", "QX"), ("QC2", "QX"), ("QX", "QT")]
CITIES = [("QX", 10, None, None), ("QC1", 20, None, None), ("QC2", 30, None, None)]
CITIES_COUNTRIES = [("QX", 0, "Q2"), ("QC1", 0, "Q1"), ("QC2", 0, "Q1")]
OBJECT_LABELS = [
    ("QX", "alpha", None, "ExAlpha"),
    ("QX", "beta", None, "ExBeta"),
    ("QC1", "alpha", 0, "CityOne"),
    ("QC2", "alpha", None, "CityTwo"),
]

# (id, country, 2nd_id, native_label, eo_label, 2nd_native_label,
#  2nd_eo_label, 2nd_iso), worked by hand:
# - QX's deepest 2nd-level ancestor is itself (step 0 of its closure);
# - native_label: QC1 by D5; QX by D7 in Q2's language (beta); QC2 by D7
#   in Q1's language (alpha);
# - 2nd_native_label: D7 for subdivision QX in MIN(Q1, Q2) = Q1's
#   language (alpha), on all three cities;
# - no eo/fr/es/en/de/nl labels, so no eo labels.
EXPECTED = [
    ("QC1", "aa", "QX", "CityOne", None, "ExAlpha", None, "X-1"),
    ("QC2", "aa", "QX", "CityTwo", None, "ExAlpha", None, "X-1"),
    ("QX", "bb", "QX", "ExBeta", None, "ExAlpha", None, "X-1"),
]


def _tables(spark):
    mk = spark.createDataFrame
    return {
        "countries": mk(COUNTRIES, "id string, iso string"),
        "languages": mk(LANGUAGES, "id string, code string"),
        "object_languages": mk(OBJECT_LANGUAGES, "id string, lang_id string, lang_index int"),
        "territorial_entities": mk(TERRITORIAL_ENTITIES, "id string, is_2nd boolean, iso string"),
        "territorial_entities_parents": mk(TE_PARENTS, "id string, parent string"),
        "cities": mk(CITIES, "id string, population long, lat double, lon double"),
        "cities_countries": mk(CITIES_COUNTRIES, "city string, priority int, country string"),
        "object_labels": mk(OBJECT_LABELS, "id string, lang string, native_order int, label string"),
        "missing_p17": mk([("QM",)], "id string"),
    }


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """One post_process run plus its final writes, with every
    transitive_closure call counted (the post plan's own and the one
    labels.resolve_labels_via_ancestors falls back to)."""
    import geo_db_spark.operators.labels as labels
    import geo_db_spark.plans.geo_post as geo_post

    calls = []
    real = geo_post.transitive_closure

    def counted(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    spark.catalog.clearCache()
    out = tmp_path_factory.mktemp("post")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(geo_post, "transitive_closure", counted)
        mp.setattr(labels, "transitive_closure", counted)
        finals = geo_post.post_process(_tables(spark))
        for name, df in finals.items():
            df.write.mode("overwrite").parquet(str(out / name))
    cache_empty = spark._jsparkSession.sharedState().cacheManager().isEmpty()
    cities = spark.read.parquet(str(out / "cities")).collect()
    return {"closure_calls": len(calls), "cache_empty": cache_empty, "cities": cities}


def test_role_collision_city_and_subdivision_resolve_separately(built):
    rows = sorted(
        (
            r["id"], r["country"], r["2nd_id"], r["native_label"], r["eo_label"],
            r["2nd_native_label"], r["2nd_eo_label"], r["2nd_iso"],
        )
        for r in built["cities"]
    )
    assert rows == EXPECTED
    ids = [r["id"] for r in built["cities"]]
    assert len(ids) == len(set(ids))  # one spine row per city


def test_post_process_runs_one_ancestor_closure(built):
    assert built["closure_calls"] == 1


def test_post_process_leaves_no_cached_frames(built):
    assert built["cache_empty"]


# post_process outputs on the parity fixture, frozen from the earlier
# post phase (three closures, D6/D7/D8 once per role).
# cities: (id, country, population, lat, lon, 2nd_id, native_label,
#          eo_label, 2nd_native_label, 2nd_eo_label, 2nd_iso)
PARITY_CITIES = [
    ("QC1", "aa", 1000, 1.5, 2.5, "QT2", "CityOne / StadtEins", "UrboUnu", "RegionTwo", None, "X-2"),
    ("QC2", "aa", 2000, None, None, "QT8", "ChengTwo", None, "SubEight", None, "X-8"),
    ("QC4", "aa", 40, None, None, None, "CityFour / ChengFour", None, None, None, None),
    ("QC6", "bb", 60, None, None, None, None, "UrboSes", None, None, None),
    ("QC7", "aa", 70, None, None, "QT5", "CitySeven", None, "SubFive", None, "X-5"),
]
PARITY_LABELS = [
    ("QC1", "alpha", "CityOne"),
    ("QC1", "beta", "StadtEins"),
    ("QC1", "eo", "UrboUnu"),
    ("QC2", "beta", "StadtZwei"),
    ("QC2", "zh-hans", "ChengTwo"),
    ("QC4", "alpha", "CityFour"),
    ("QC4", "zh-hant", "ChengFour"),
    ("QC6", "eo", "UrboSes"),
    ("QC7", "alpha", "CitySeven"),
]
PARITY_LANGUAGES: list = []


def test_parity_fixture_matches_frozen_outputs(spark):
    from geo_db_spark.plans.geo_post import post_process

    outs = post_process(_parity_tables(spark))
    cities = sorted(
        tuple(r)
        for r in outs["cities"]
        .select(
            "id", "country", "population", "lat", "lon", "2nd_id",
            "native_label", "eo_label", "2nd_native_label", "2nd_eo_label", "2nd_iso",
        )
        .collect()
    )
    assert cities == PARITY_CITIES
    assert sorted(tuple(r) for r in outs["cities_labels"].collect()) == PARITY_LABELS
    assert sorted(tuple(r) for r in outs["cities_languages"].collect()) == PARITY_LANGUAGES
