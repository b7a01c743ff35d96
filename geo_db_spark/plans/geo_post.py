"""The post-processing pipeline: nine extracted tables -> the final
denormalized `cities` (+ cities_labels / cities_languages).

Reproduces the reference's SQL battery in its exact stage order
(src/post/mod.rs:114-190; SURVEY.md §3.2), as pure DataFrame derivations:
the reference mutates `cities` in place (ALTER/UPDATE); here every stage
derives a new DataFrame, and the stage ordering carries the same data
dependencies (e.g. D7 only fills what D6 left NULL).

The two row-at-a-time loops (per_city.sql, per_subdivision.sql driven by
src/post/mod.rs:96-107) are replaced by set-based passes — see
geo_db_spark.operators.labels. The reference runs each label stage once
for cities and again for subdivisions; here each runs ONCE per build,
over the union of both key sets, and fills both column families:
- ONE ancestor closure (D3), seeded with every city and every 2nd-level
  TE, feeds D4 and both D6 consumers (through ``closure_fn``);
- D5 is one concat per city id, joined by id and by 2nd_id;
- D6 and D8 results depend only on the id, so one pass over the union of
  city and subdivision ids serves both;
- D7 results depend only on (owner, country); its target key is tagged
  with the role (city / subdivision), because a 2nd-level TE can also
  be a city of another country and an untagged key would duplicate
  spine rows.
Within each column family the stages keep the reference order, so each
fill sees the same inputs as before the merge.

Determinism: all SQLite arbitrary-winner spots carry documented
tiebreaks (see operators/labels.py docstring and inline notes below).

Documented divergences from reference quirks (verified against the
reference's own SQL in tests/test_geo_post_parity.py):
- per_subdivision.sql aggregates group_concat inside an UPDATE..FROM,
  which SQLite applies to ONE arbitrary city of a multi-city subdivision
  (doubling the concat across joined rows) and leaves siblings NULL; we
  resolve once per subdivision and apply to ALL its cities (the evident
  intent).
- subdivision_labels_by_country.sql's UPDATE can overwrite a sibling's
  already-resolved label with NULL (its WHERE has no NULL guard); we
  only fill NULLs.

Scale notes: `cities` is the spine that every stage joins back onto —
at WikiData scale it is ~10^6 rows (small); label tables are the big,
skewed side (big cities have 300+ labels, SURVEY.md §7/M5), so label
aggregations group FIRST (shrinking to one row per id) before joining
the spine, and dimension-sized inputs (countries, languages) broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from geo_db_spark.operators.closure import deepest_qualifying_ancestor, transitive_closure
from geo_db_spark.operators.labels import (
    eo_label_pick,
    labels_by_country,
    native_label_concat,
    resolve_labels_via_ancestors,
)
from geo_db_spark.operators.relational import anti_join, dedup_by_key, semi_join


def _fill(df: DataFrame, updates: DataFrame, key: str, col: str, update_key: str | None = None) -> DataFrame:
    """UPDATE df SET col = updates.col WHERE df.key = updates.update_key,
    only filling NULLs (stage semantics: later label stages only touch
    rows earlier stages left unresolved)."""
    u = updates.select(F.col(update_key or key).alias(key), F.col(col).alias("__new"))
    return (
        df.join(u, key, "left")
        .withColumn(col, F.coalesce(F.col(col), F.col("__new")))
        .drop("__new")
    )


def _as_sub(df: DataFrame) -> DataFrame:
    """Rename a city label column to its subdivision twin
    (native_label -> 2nd_native_label, eo_label -> 2nd_eo_label)."""
    return df.withColumnsRenamed(
        {c: f"2nd_{c}" for c in ("native_label", "eo_label") if c in df.columns}
    )


def post_process(
    tables: dict[str, DataFrame],
    max_steps: int = 100,
    checkpoint: bool = True,
) -> dict[str, DataFrame]:
    """``checkpoint`` inserts lineage barriers (lazy localCheckpoint) at
    stage boundaries: every downstream output re-reads the materialized
    stage instead of recomputing the whole compounded plan. On a real
    cluster the equivalent is writing stage outputs to parquet
    (the reference's SQLite tables play the same role)."""
    def _barrier(df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=False) if checkpoint else df

    countries = tables["countries"]
    object_languages = tables["object_languages"]
    languages = tables["languages"]
    tes = tables["territorial_entities"]
    edges = tables["territorial_entities_parents"]
    cities = tables["cities"]
    cities_countries = tables["cities_countries"]
    object_labels = tables["object_labels"]

    # ---- city_countries.sql (D1 + D2) -------------------------------
    # drop references to vanished countries, then per city pick the
    # MIN(priority) country (unique by PK after the delete; tiebreak
    # country id for safety under non-PK inputs)
    cc = semi_join(
        cities_countries,
        countries.select(F.col("id").alias("country")),
        "country",
        broadcast_right=True,
    )
    w = Window.partitionBy("city").orderBy("priority", "country")
    picked = (
        cc.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(F.col("city").alias("id"), F.col("country"))
    )
    cities = cities.join(picked, "id", "left")  # country NULL when none

    # ---- find_subdivision.sql (D3 + D4) -----------------------------
    # ONE ancestor closure per build, seeded with every city AND every
    # 2nd-level TE: D4 reads it for the cities, D6 (below) for the
    # unlabeled cities and subdivisions, which are all among its seeds.
    # Admin-hierarchy edges are bounded (~1e6 for all of WikiData): safe
    # to pin the broadcast and make every recursion level shuffle-free.
    # Multi-path DAGs duplicate (seed, id, step) rows; neither D4 nor D6
    # needs the multiplicity.
    second = tes.filter(F.col("is_2nd")).select("id")
    closure = _barrier(
        transitive_closure(
            edges,
            cities.select("id").unionByName(second).distinct(),
            max_steps=max_steps,
            broadcast_edges=True,
        ).dropDuplicates(["seed", "id", "step"])
    )
    deepest = deepest_qualifying_ancestor(closure, second)
    cities = _barrier(
        cities.join(
            deepest.select(F.col("seed").alias("id"), F.col("id").alias("2nd_id")),
            "id",
            "left",
        )
    )

    # ---- city_labels.sql + subdivision_labels.sql (D5) --------------
    # native-label concat per CITY id, joined by id and by 2nd_id (the
    # reference's labels_inner scans `cities`, so only subdivisions that
    # are themselves cities are covered by the 2nd_id join — faithful
    # quirk)
    city_native = _barrier(native_label_concat(cities.select("id"), object_labels))
    cities = cities.join(city_native, "id", "left").join(
        _as_sub(city_native.withColumnRenamed("id", "2nd_id")), "2nd_id", "left"
    )

    # ---- per_city.sql + per_subdivision.sql loops (D6, one pass) ----
    # a D6 result depends only on the seed id, so the unlabeled cities
    # and the unlabeled subdivisions resolve in ONE set-based pass over
    # the union of their ids, reading the shared closure
    unlabeled = (
        cities.filter(F.col("native_label").isNull())
        .select("id")
        .unionByName(
            cities.filter(F.col("2nd_native_label").isNull() & F.col("2nd_id").isNotNull())
            .select(F.col("2nd_id").alias("id"))
        )
        .distinct()
    )
    resolved = _barrier(
        resolve_labels_via_ancestors(
            unlabeled, edges, object_languages, languages, object_labels,
            max_steps=max_steps,
            closure_fn=lambda _edges, sd, max_steps: semi_join(
                closure, sd.select(F.col("id").alias("seed")), "seed"
            ),
        )
    )
    cities = _fill(cities, resolved, "id", "native_label", update_key="seed")
    cities = _barrier(
        _fill(cities, _as_sub(resolved), "2nd_id", "2nd_native_label", update_key="seed")
    )

    # ---- city_ + subdivision_labels_by_country.sql (D7, one pass) ---
    # a D7 result depends only on (owner, country). The target key
    # carries the role: a 2nd-level TE can also be a city of another
    # country, and an untagged id would then match two result rows and
    # duplicate spine rows. The reference takes the country of an
    # ARBITRARY city of the subdivision (DISTINCT "2nd_id" over a
    # multi-country set) — we take MIN(country) per 2nd_id [documented
    # tiebreak].
    def target(role: str, key: str) -> Column:
        return F.struct(F.lit(role).alias("role"), F.col(key).alias("id")).alias("target_id")

    targets = (
        cities.filter(F.col("native_label").isNull() & F.col("country").isNotNull())
        .select(target("city", "id"), F.col("id").alias("owner"), "country")
        .unionByName(
            cities.filter(
                F.col("2nd_native_label").isNull()
                & F.col("2nd_id").isNotNull()
                & F.col("country").isNotNull()
            )
            .groupBy("2nd_id")
            .agg(F.min("country").alias("country"))
            .select(target("sub", "2nd_id"), F.col("2nd_id").alias("owner"), "country")
        )
    )
    by_country = _barrier(
        labels_by_country(targets, countries, object_languages, languages, object_labels)
        .select(F.col("target_id.role").alias("role"), F.col("target_id.id").alias("key"), "native_label")
    )

    def for_role(role: str) -> DataFrame:
        return by_country.filter(F.col("role") == role).drop("role")

    cities = _fill(cities, for_role("city"), "id", "native_label", update_key="key")
    cities = _barrier(
        _fill(cities, _as_sub(for_role("sub")), "2nd_id", "2nd_native_label", update_key="key")
    )

    # ---- esperanto_city_ + _subdivision_labels.sql (D8, one pass) ---
    eo = _barrier(
        eo_label_pick(
            cities.select("id")
            .unionByName(cities.select(F.col("2nd_id").alias("id")).filter(F.col("id").isNotNull()))
            .distinct(),
            object_labels,
        )
    )
    cities = cities.join(eo, "id", "left").join(
        _as_sub(eo.withColumnRenamed("id", "2nd_id")), "2nd_id", "left"
    )

    # ---- subdivision_iso.sql (D9) -----------------------------------
    cities = cities.join(
        F.broadcast(
            tes.filter(F.col("is_2nd")).select(
                F.col("id").alias("2nd_id"), F.col("iso").alias("2nd_iso")
            )
        ),
        "2nd_id",
        "left",
    )

    # ---- cleanup 02: object_languages rekeyed to codes (D10) --------
    langs_coded = object_languages.join(
        F.broadcast(languages.select(F.col("id").alias("lang_id"), F.col("code").alias("lang"))),
        "lang_id",
        "left",
    )
    # PK (id,lang) first-writer-wins ~ insertion order = lang_index order
    cities_languages = dedup_by_key(
        langs_coded,
        key=["id", "lang"],
        prefer_order=[F.col("lang_index"), F.col("lang_id")],
    ).select("id", "lang", "lang_index")

    # ---- cleanup 03: object_labels rekeyed to (id, lang) (D10) ------
    # insertion order = plain labels (native_order NULL) before native
    cities_labels = dedup_by_key(
        object_labels,
        key=["id", "lang"],
        prefer_order=[F.col("native_order").asc_nulls_first(), F.col("label")],
    ).select("id", "lang", "label")

    # ---- cleanup 05: drop countryless cities, rewrite to ISO (D11) --
    iso_map = F.broadcast(countries.select(F.col("id").alias("country"), "iso"))
    cities = (
        cities.join(iso_map, "country", "inner")  # inner == NOT EXISTS delete
        .withColumn("country", F.col("iso"))
        .drop("iso")
    )

    # ---- cleanup 06: drop label-less cities (D12) -------------------
    cities = cities.filter(
        F.col("native_label").isNotNull() | F.col("eo_label").isNotNull()
    )

    cities = _barrier(
        cities.select(
            "id", "country", "population", "lat", "lon",
            "2nd_id", "native_label", "eo_label",
            "2nd_native_label", "2nd_eo_label", "2nd_iso",
        )
    )

    # ---- cleanup 07/08: prune label/language rows to live cities ----
    live = cities.select("id")
    cities_labels = semi_join(cities_labels, live, "id")
    cities_languages = semi_join(
        cities_languages.filter(F.col("lang").isNotNull()), live, "id"
    )

    # cleanup 09 renames object_* -> cities_*; here they are named so
    # from the start. No VACUUM equivalent needed (no mutable store).
    return {
        "cities": cities,
        "cities_labels": cities_labels,
        "cities_languages": cities_languages,
    }
