"""Seeded inputs for the benchmark.

``make_geo_world(seed)`` builds a WikiData-shaped dump (JSON-array
framing, one entity per line) for the ``geo_build`` workload together
with the facts its correctness check needs. The facts are derived from
how the world was built, never from the program's output.

``write_query_tables(seed, out_dir)`` writes the TPC-H-ish parquet tables
the ``query_mix`` queries read (nation, part, lineitem, documents).

World shape (stated in BENCHMARK.json and README.md):
- about a third of the entities are geographic (countries, languages,
  admin TEs, cities); the rest are non-geographic entities with large
  label maps and claims the extractor never reads, so they carry most
  of the bytes. These proportions are chosen, not measured against a
  real dump, whose geo share is likely far smaller;
- the admin graph is acyclic: cities sit 1-6 P131 hops below their
  2nd-level TE, with diamonds (entities with two parents), so every
  city's deepest 2nd-level ancestor is decided by depth or by the id
  tiebreak;
- some cities are also TEs with P37 languages, so ``cities_languages``
  is not empty;
- the world also holds the cases the post phase must drop: cities
  without labels, cities whose country has no ISO code, dissolved
  cities, cities without a P17 and cities below an excluded entity.
"""

from __future__ import annotations

import bz2
import json
import os
import random
from dataclasses import dataclass, field

CLASS_SETS = {
    "territorial_entities": ["QTE"],
    "human_settlements": ["QCITY"],
    "excluded": ["QEXC"],
    "excluded_settlements": ["QEXCS"],
    "second_level_admin_div": ["Q2ND"],
    "languages": ["QLANG"],
}

# sizes of one world, chosen to fit a run, not taken from a real dump;
# the dump is the same for every run of a seed
N_COUNTRIES = 12
N_LANGUAGES = 10
SECOND_PER_COUNTRY = 4
DISTRICTS_PER_SECOND = 6
N_CITIES = 1500
N_OTHER = 4000
OTHER_LANGS = 12  # label languages on a non-geographic entity
LABEL_LANGS = ("en", "de", "fr", "es", "eo", "nl", "it", "pt")


def _snak(value) -> dict:
    return {"snaktype": "value", "datavalue": {"value": value}}


def _stmt(value, qualifiers: dict | None = None) -> dict:
    s = {"mainsnak": _snak(value)}
    if qualifiers:
        s["qualifiers"] = qualifiers
    return s


def _ent(qid: str, qualifiers: dict | None = None) -> dict:
    return _stmt({"id": qid}, qualifiers)


def _time_q(prop: str, year: int) -> dict:
    return {prop: [_snak({"time": f"+{year}-01-01T00:00:00Z", "timezone": 0})]}


def _labels(pairs) -> dict:
    return {lang: {"language": lang, "value": text} for lang, text in pairs}


@dataclass
class GeoWorld:
    """A generated dump (as text lines) and the facts the checks use."""

    seed: int
    lines: list[str]
    # city id -> (country iso, 2nd id, 2nd iso, population) for every
    # city that must survive the post phase
    cities: dict[str, tuple]
    # (city id, language code) pairs expected in cities_languages
    city_languages: set[tuple[str, str]]
    n_entities: int
    n_geo: int
    geo_bytes: int = 0
    other_bytes: int = 0
    depth_hist: dict[int, int] = field(default_factory=dict)

    def text(self) -> str:
        return "".join(self.lines)

    def shape(self) -> dict:
        total = self.geo_bytes + self.other_bytes
        return {
            "entities": self.n_entities,
            "geo_share": round(self.n_geo / self.n_entities, 4),
            "non_geo_byte_share": round(self.other_bytes / total, 4),
            "bytes_per_entity": round(total / self.n_entities, 1),
            "chain_depths": dict(sorted(self.depth_hist.items())),
            "cities_expected": len(self.cities),
            "city_languages_expected": len(self.city_languages),
        }


def make_geo_world(seed: int) -> GeoWorld:
    rng = random.Random(seed)
    docs: list[tuple[bool, dict]] = []  # (is_geo, entity)

    # ---- languages: codes l0..l8; the last language has no P424 code
    lang_ids = [f"Q{9000 + i}" for i in range(N_LANGUAGES)]
    lang_code = {lid: f"l{i}" for i, lid in enumerate(lang_ids[:-1])}
    for lid in lang_ids:
        claims = {"P31": [_ent("QLANG")]}
        if lid in lang_code:
            claims["P424"] = [_stmt(lang_code[lid])]
        docs.append((True, {"id": lid, "claims": claims}))

    # ---- countries; one extra "vanished" entity without P297
    countries = [f"Q{100 + i}" for i in range(N_COUNTRIES)]
    iso = {}
    for i, cid in enumerate(countries):
        iso[cid] = f"C{chr(65 + i // 26)}{chr(65 + i % 26)}"
        claims = {
            "P297": [_stmt(iso[cid])],
            "P37": [_ent(rng.choice(lang_ids))],
        }
        docs.append((True, {"id": cid, "claims": claims, "labels": _labels([("en", f"Country {i}")])}))
    vanished = "Q199"
    docs.append((True, {"id": vanished, "labels": _labels([("en", "Old Realm")])}))

    # ---- admin TEs: 2nd-level TEs under each country, districts below
    parents: dict[str, list[str]] = {}  # routed entity -> active P131 parents
    second: dict[str, str] = {}  # 2nd-level id -> iso
    te_docs: dict[str, dict] = {}
    districts: list[str] = []
    level: dict[str, int] = {}  # hops below the 2nd-level TE
    next_id = 1000

    def new_id() -> str:
        nonlocal next_id
        next_id += 1
        return f"Q{next_id}"

    for cid in countries:
        seconds = []
        for s in range(SECOND_PER_COUNTRY):
            sid = new_id()
            second[sid] = f"{iso[cid]}-{s}"
            parents[sid] = [cid]
            level[sid] = 0
            seconds.append(sid)
            te_docs[sid] = {
                "id": sid,
                "claims": {
                    "P31": [_ent("QTE"), _ent("Q2ND")],
                    "P300": [_stmt(second[sid])],
                    "P131": [_ent(cid)],
                    "P37": [_ent(rng.choice(lang_ids))],
                },
                "labels": _labels([("en", f"State {sid}")]),
            }
        # districts: each hangs below a 2nd-level TE or an earlier district
        # of the same country (depth grows), some with a second parent
        # (a diamond, possibly through another 2nd-level TE)
        local: list[str] = []
        for _ in range(SECOND_PER_COUNTRY * DISTRICTS_PER_SECOND):
            did = new_id()
            # a district is at most 5 hops below its 2nd-level TE, so a
            # city is 1-6 hops below it
            pool = seconds + [d for d in local if level[d] < 5]
            ps = [rng.choice(pool)]
            if rng.random() < 0.15:
                other = rng.choice(pool)
                if other not in ps:
                    ps.append(other)
            parents[did] = ps
            level[did] = 1 + max(level[p] for p in ps)
            local.append(did)
            te_docs[did] = {
                "id": did,
                "claims": {
                    "P31": [_ent("QTE")],
                    "P131": [_ent(p) for p in ps]
                    # an ended P131 statement is inactive: no edge
                    + ([_ent(rng.choice(seconds), _time_q("P582", 1990))] if rng.random() < 0.1 else []),
                },
                "labels": _labels([("en", f"District {did}")]),
            }
        districts.extend(local)
    # one excluded entity per country: TE by class, but excluded, so it is
    # not routed and emits no edges
    excluded = []
    for cid in countries:
        xid = new_id()
        excluded.append(xid)
        te_docs[xid] = {
            "id": xid,
            "claims": {"P31": [_ent("QTE"), _ent("QEXC")], "P131": [_ent(cid)]},
            "labels": _labels([("en", f"Excluded {xid}")]),
        }
    docs.extend((True, d) for d in te_docs.values())
    admin = list(second) + districts

    # ---- cities
    cities: dict[str, tuple] = {}
    city_languages: set[tuple[str, str]] = set()
    country_of = {}
    for sid in second:
        country_of[sid] = parents[sid][0]
    for did in districts:
        country_of[did] = country_of[parents[did][0]]
    for _ in range(N_CITIES):
        cid_ = new_id()
        claims: dict = {"P31": [_ent("QCITY")]}
        kind = rng.random()
        home = rng.choice(admin)
        country = country_of[home]
        # P17: a dated current country, sometimes after an ended one or
        # after an undated one (dated outranks undated)
        roll = rng.random()
        if roll < 0.10:
            old = rng.choice(countries)
            claims["P17"] = [
                _ent(old, {**_time_q("P580", 1900), **_time_q("P582", 1950)}),
                _ent(country, _time_q("P580", 1951)),
            ]
        elif roll < 0.15:
            claims["P17"] = [_ent(rng.choice(countries)), _ent(country, _time_q("P580", 1990))]
        else:
            claims["P17"] = [_ent(country, _time_q("P580", 1995))]
        ps = [home]
        if rng.random() < 0.1:
            other = rng.choice(admin)
            if other not in ps:
                ps.append(other)
        claims["P131"] = [_ent(p) for p in ps]
        # population: latest P585 reading wins
        pop = None
        readings = []
        for _ in range(rng.randint(0, 3)):
            year = rng.randrange(1950, 2024)
            amount = rng.randrange(100, 5_000_000)
            readings.append((year, amount))
            claims.setdefault("P1082", []).append(
                {
                    "mainsnak": _snak({"amount": f"+{amount}", "unit": "1"}),
                    "qualifiers": _time_q("P585", year),
                }
            )
        if readings:
            best = max(readings, key=lambda r: r[0])
            # equal years: the later array entry wins
            pop = [a for y, a in readings if y == best[0]][-1]
        claims["P625"] = [_stmt({"latitude": rng.uniform(-80, 80), "longitude": rng.uniform(-170, 170)})]
        langs = rng.sample(LABEL_LANGS, rng.randint(1, 4))
        if "eo" not in langs:
            langs.append("eo")
        labels = _labels([(lg, f"{lg}:{cid_}") for lg in langs])
        if rng.random() < 0.3:
            claims["P1705"] = [_stmt({"language": rng.choice(LABEL_LANGS), "text": f"Native {cid_}"})]
        survives = True
        if kind < 0.03:  # no labels at all: dropped by cleanup 06
            labels = {}
            claims.pop("P1705", None)
            survives = False
        elif kind < 0.05:  # country without ISO: dropped by cleanup 05
            claims["P17"] = [_ent(vanished, _time_q("P580", 1995))]
            survives = False
        elif kind < 0.07:  # dissolved: filtered before routing
            claims["P576"] = [_snak({"time": "+2001-01-01T00:00:00Z", "timezone": 0})]
            survives = False
        elif kind < 0.09:  # no P17: only a missing_p17 row
            del claims["P17"]
            survives = False
        elif kind < 0.11:  # below an excluded entity only
            ps = [rng.choice(excluded)]
            claims["P131"] = [_ent(ps[0])]
        elif kind < 0.21:  # a city that is also a TE with languages
            claims["P31"].append(_ent("QTE"))
            ls = rng.sample(lang_ids, rng.randint(1, 3))
            claims["P37"] = [_ent(lid) for lid in ls]
            city_languages.update((cid_, lang_code[lid]) for lid in ls if lid in lang_code)
        parents[cid_] = ps
        docs.append((True, {"id": cid_, "claims": claims, "labels": labels}))
        if survives:
            cities[cid_] = (iso[country].lower(), pop)

    # ---- expected deepest 2nd-level ancestor, over all paths
    memo: dict[str, dict[str, int]] = {}

    def depths(node: str) -> dict[str, int]:
        """2nd-level ancestor -> deepest step above ``node``."""
        if node in memo:
            return memo[node]
        out: dict[str, int] = {}
        for p in parents.get(node, []):
            if p in second:
                out[p] = max(out.get(p, 0), 1)
            for a, d in depths(p).items():
                out[a] = max(out.get(a, 0), d + 1)
        memo[node] = out
        return out

    depth_hist: dict[int, int] = {}
    for cid_, (c_iso, pop) in list(cities.items()):
        d = depths(cid_)
        if d:
            deepest = max(d.values())
            sid = min(a for a, v in d.items() if v == deepest)
            cities[cid_] = (c_iso, sid, second[sid], pop)
            depth_hist[deepest] = depth_hist.get(deepest, 0) + 1
        else:
            cities[cid_] = (c_iso, None, None, pop)

    # ---- non-geographic entities: most entities and most bytes
    words = ("alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa", "theta")
    for _ in range(N_OTHER):
        oid = new_id()
        langs = rng.sample(LABEL_LANGS + tuple(f"x{i}" for i in range(16)), OTHER_LANGS)
        doc = {
            "id": oid,
            "labels": _labels([(lg, f"{rng.choice(words)} {oid} {lg}") for lg in langs]),
            "descriptions": _labels([(lg, " ".join(rng.choices(words, k=6))) for lg in langs[:6]]),
            "claims": {
                "P31": [_ent(f"QOTHER{rng.randrange(200)}")],
                "P1343": [_ent(f"Q{rng.randrange(10**6)}") for _ in range(rng.randint(1, 4))],
                "P856": [_stmt(f"https://example.org/{oid}/{rng.randrange(10**6)}")],
            },
        }
        docs.append((False, doc))

    # deterministic interleave, as a dump mixes kinds
    rng.shuffle(docs)
    lines = ["[\n"]
    geo_bytes = other_bytes = 0
    for i, (is_geo, d) in enumerate(docs):
        line = json.dumps(d, separators=(",", ":")) + (",\n" if i < len(docs) - 1 else "\n")
        lines.append(line)
        if is_geo:
            geo_bytes += len(line)
        else:
            other_bytes += len(line)
    lines.append("]\n")
    return GeoWorld(
        seed=seed,
        lines=lines,
        cities=cities,
        city_languages=city_languages,
        n_entities=len(docs),
        n_geo=sum(1 for g, _ in docs if g),
        geo_bytes=geo_bytes,
        other_bytes=other_bytes,
        depth_hist=depth_hist,
    )


def write_dump(world: GeoWorld, path: str) -> int:
    """Write the dump bz2-compressed; returns the compressed size."""
    with bz2.open(path, "wt", compresslevel=6) as f:
        f.writelines(world.lines)
    return os.path.getsize(path)


# ------------------------------------------------------------ query_mix

N_PARTS = 2000
N_ORDERS = 15000
N_DOCS = 500
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def query_tables(seed: int) -> dict:
    """The four tables as pyarrow Tables (types as the query code expects)."""
    import numpy as np
    import pyarrow as pa

    rs = np.random.RandomState(seed)
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }
    )
    kinds = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"]
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(N_PARTS, dtype=np.int64)),
            "p_name": pa.array([f"part {i % 64}" for i in range(N_PARTS)]),
            "p_brand": pa.array([f"Brand#{b}" for b in rs.randint(1, 26, N_PARTS)]),
            "p_type": pa.array([kinds[k] for k in rs.randint(0, 6, N_PARTS)]),
            "p_size": pa.array(rs.randint(1, 51, N_PARTS).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + rs.rand(N_PARTS) * 1100, 2)),
        }
    )
    lines_per = rs.randint(1, 8, N_ORDERS)
    n = int(lines_per.sum())
    orderkey = np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines_per)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32)
    day0 = np.datetime64("1995-01-02")
    ship = day0 + rs.randint(0, 2497, n).astype("timedelta64[D]")
    flags = np.array(["A", "N", "R"])[rs.randint(0, 3, n)]
    status = np.array(["O", "F"])[rs.randint(0, 2, n)]
    qty = rs.randint(1, 51, n).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(orderkey),
            # a skewed part popularity, so orders share parts and the
            # co-occurrence graph has triangles
            "l_partkey": pa.array((rs.zipf(1.3, n) % N_PARTS).astype(np.int64)),
            "l_suppkey": pa.array(rs.randint(0, 100, n).astype(np.int64)),
            "l_linenumber": pa.array(linenumber),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * (900 + rs.rand(n) * 1100), 2)),
            "l_discount": pa.array(rs.randint(0, 11, n) / 100.0),
            "l_tax": pa.array(rs.randint(0, 9, n) / 100.0),
            "l_returnflag": pa.array(flags),
            "l_linestatus": pa.array(status),
            "l_shipdate": pa.array(ship.astype("datetime64[us]"), type=pa.timestamp("us")),
        }
    )
    texts = []
    for i in range(N_DOCS):
        if i > 10 and rs.rand() < 0.05:
            texts.append(texts[rs.randint(0, i)] + " dup")
        else:
            texts.append(" ".join(VOCAB[k] for k in rs.randint(0, len(VOCAB), rs.randint(10, 110))))
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([("en", "de", "fr", "es", "zh")[k] for k in rs.randint(0, 5, N_DOCS)]),
            "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    return {"nation": nation, "part": part, "lineitem": lineitem, "documents": documents}


def write_query_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write one parquet file per table; returns table -> row count."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in query_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
