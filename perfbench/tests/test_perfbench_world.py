"""The generators give the same inputs for the same seed."""

import world


def test_geo_world_is_deterministic_per_seed():
    a, b, c = world.make_geo_world(7), world.make_geo_world(7), world.make_geo_world(8)
    assert a.lines == b.lines
    assert a.cities == b.cities and a.city_languages == b.city_languages
    assert a.lines != c.lines


def test_geo_world_has_the_stated_shape():
    shape = world.make_geo_world(7).shape()
    assert shape["geo_share"] < 0.5
    assert shape["non_geo_byte_share"] > 0.5  # non-geo entities carry most bytes
    assert set(shape["chain_depths"]) == {1, 2, 3, 4, 5, 6}
    assert shape["cities_expected"] > 1000
    assert shape["city_languages_expected"] > 0  # D10 / cleanup 08 do work


def test_query_tables_are_deterministic_per_seed():
    a = world.query_tables(3)
    b = world.query_tables(3)
    c = world.query_tables(4)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    # mm_image_decode_jpeg requires ASCII text
    assert all(t.isascii() for t in a["documents"].column("text").to_pylist())
