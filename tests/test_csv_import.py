"""CSV list importer (S1): sniffing, BOM, multilingual headers, bindings,
extra tags, CRS transform, end-to-end oracle roundtrip."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from housenumbercore_spark.sources import csv_import as CI

SF = "/root/testdata/sf0.001"


def test_sniff_separator():
    assert CI.sniff_separator("a;b;c") == ";"
    assert CI.sniff_separator("a\tb\tc") == "\t"
    assert CI.sniff_separator("a,b;c,d,e") == ","
    assert CI.sniff_separator("single") == ","


def test_header_inference_multilingual():
    mapping, tags = CI.infer_header_mapping(
        ["﻿Straße", "Hausnummer", "PLZ", "Gemeinde", "Bemerkung", "lon", "lat"]
    )
    assert mapping["street"] == 0  # BOM stripped before matching
    assert mapping["housenumber"] == 1
    assert mapping["postcode"] == 2
    assert mapping["municipality"] == 3
    assert mapping["lon"] == 5 and mapping["lat"] == 6
    assert tags == {4: "Bemerkung"}

    it, _ = CI.infer_header_mapping(["via", "civico", "cap", "comune"])
    assert it == {"street": 0, "housenumber": 1, "postcode": 2, "municipality": 3}


def test_explicit_bindings_win():
    params = CI.CsvImportParams(column_bindings={2: "street"}, tag_bindings={0: "ref"})
    mapping, tags = CI.infer_header_mapping(["id", "strasse", "col3"], params)
    assert mapping["street"] == 2  # positional binding beats name inference
    assert tags[0] == "ref" and 1 in tags  # 'strasse' column left over → tag


def test_csv_read_with_bom_and_tags(spark, tmp_path):
    p = tmp_path / "list.csv"
    p.write_bytes(
        "﻿Straße;Hausnummer;PLZ;Notiz\nHauptstraße;47 1/2;52062;x\n"
        "Marktplatz;1;52062;y\n".encode()
    )
    df = CI.read_csv_addresses(spark, str(p)).orderBy("street")
    rows = df.collect()
    assert [r.street for r in rows] == ["Hauptstraße", "Marktplatz"]
    assert rows[0].housenumber == "47 1/2"
    assert rows[0].extraosmtags == {"Notiz": "x"}
    assert rows[0].lon is None  # no coordinate columns


def test_utm_transform_properties():
    from housenumbercore_spark.geo import crs as CRS

    # central meridian of zone 32 is 9°E at false easting 500 km
    lon, lat = CRS.utm_to_wgs84(np.array([500000.0]), np.array([5500000.0]), 32)
    assert abs(lon[0] - 9.0) < 1e-9
    assert 49.0 < lat[0] < 50.2
    # symmetry around the central meridian
    lon2, _ = CRS.utm_to_wgs84(np.array([400000.0, 600000.0]), np.array([5500000.0] * 2), 32)
    assert abs((lon2[0] + lon2[1]) - 18.0) < 1e-9
    # web mercator origin
    lo, la = CRS.webmercator_to_wgs84(np.array([0.0]), np.array([0.0]))
    assert abs(lo[0]) < 1e-12 and abs(la[0]) < 1e-12


def test_srid_25832_zone_hack(spark, tmp_path):
    p = tmp_path / "utm.csv"
    p.write_text(
        "street,housenumber,x,y\nA,1,500000.0,5500000.0\nB,2,32500000.0,5500000.0\n"
    )
    params = CI.CsvImportParams(srid=25832)
    rows = (
        CI.read_csv_addresses(spark, str(p), params).orderBy("street").collect()
    )
    # zone hack: 32 500 000 → 500 000 → identical coordinates
    assert abs(rows[0].lon - 9.0) < 1e-9 and abs(rows[1].lon - 9.0) < 1e-9
    assert abs(rows[0].lat - rows[1].lat) < 1e-12


def test_roundtrip_matches_oracle(spark):
    import __spark_entry__ as E

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{SF}/orders.parquet')"
    )
    got = (
        E.queries()["csv_import_roundtrip"](spark, SF)
        .toPandas()
        .sort_values("source_id")
        .reset_index(drop=True)
    )
    want = (
        con.execute(E.oracle_sql()["csv_import_roundtrip"])
        .df()
        .sort_values("source_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    for c in want.columns:
        if want[c].dtype.kind == "f":
            assert (got[c].values == want[c].values).all(), c
        else:
            assert (got[c].astype(object) == want[c].astype(object)).all(), c


def test_duplicate_unmatched_headers_get_distinct_tag_keys(spark, tmp_path):
    """Review regression: two unclaimed CSV columns with the SAME header
    name must land under distinct extraosmtags keys — duplicate map keys
    fail every action under Spark's default mapKeyDedupPolicy=EXCEPTION."""
    from housenumbercore_spark.sources import csv_import as CI

    p = tmp_path / "dup.csv"
    p.write_text(
        "strasse;hausnummer;note;note\nHauptweg;5;erste;zweite\n",
        encoding="utf-8",
    )
    df = CI.read_csv_addresses(spark, str(p))
    row = df.collect()[0]
    assert row.street == "Hauptweg" and row.housenumber == "5"
    assert row.extraosmtags["note"] == "erste"
    assert row.extraosmtags["note_2"] == "zweite"


def test_decimal_comma_coordinates_and_junk(spark, tmp_path):
    """Reference parity (CsvReader.java:506): German decimal-comma
    coordinates parse; junk unsets the coordinate instead of aborting the
    import under ANSI mode."""
    p = tmp_path / "coords.csv"
    p.write_bytes(
        "strasse;hausnummer;lon;lat\nA;1;9,12345;50,5\nB;2;junk;50.1\n"
        "C;3;9.5;50.2\n".encode()
    )
    rows = {r.street: r for r in CI.read_csv_addresses(spark, str(p)).collect()}
    assert abs(rows["A"].lon - 9.12345) < 1e-9
    assert abs(rows["A"].lat - 50.5) < 1e-9
    assert rows["B"].lon is None and abs(rows["B"].lat - 50.1) < 1e-9
    assert abs(rows["C"].lon - 9.5) < 1e-9


def test_latin1_header_decodes_with_params_encoding(spark, tmp_path):
    """The header peek honors params.encoding (spark.read.text always
    decoded UTF-8, so a Latin-1 'Straße' header went mojibake and the
    street column silently NULLed)."""
    p = tmp_path / "latin1.csv"
    p.write_bytes(
        "Straße;Hausnummer\nHauptstraße;1\n".encode("iso-8859-1")
    )
    df = CI.read_csv_addresses(
        spark, str(p), CI.CsvImportParams(encoding="ISO-8859-1")
    )
    rows = df.collect()
    assert [r.street for r in rows] == ["Hauptstraße"]


def test_hash_comment_header_marker_stripped(spark, tmp_path):
    """Reference strips a leading '#' before analysing the header line."""
    p = tmp_path / "hash.csv"
    p.write_bytes("#strasse;hausnummer\nMarktplatz;1\n".encode())
    rows = CI.read_csv_addresses(spark, str(p)).collect()
    assert [r.street for r in rows] == ["Marktplatz"]
    assert rows[0].housenumber == "1"


def test_real_header_collides_with_rename_scheme(spark, tmp_path):
    """['note','note','note_2'] headers must produce three DISTINCT map
    keys (the old scheme produced note_2 twice -> DUPLICATED_MAP_KEY)."""
    p = tmp_path / "dups.csv"
    p.write_bytes(
        "strasse;hausnummer;note;note;note_2\nA;1;x;y;z\n".encode()
    )
    rows = CI.read_csv_addresses(spark, str(p)).collect()
    tags = rows[0].extraosmtags
    assert len(tags) == 3 and set(tags.values()) == {"x", "y", "z"}


def test_backtick_in_header_name(spark, tmp_path):
    p = tmp_path / "tick.csv"
    p.write_bytes("strasse;hausnummer;price`EUR\nA;1;9\n".encode())
    rows = CI.read_csv_addresses(spark, str(p)).collect()
    assert rows[0].street == "A"
    assert rows[0].extraosmtags == {"price`EUR": "9"}


def test_write_tsv_roundtrip(spark, tmp_path):
    """S12: the TSV sink reads back row for row with a tab separator and a
    header; a NULL stays NULL and a comma needs no quoting."""
    from housenumbercore_spark.sources.export import write_tsv

    rows = [(1, "Hauptstraße", "12a"), (2, None, "3"), (3, "Am Markt, Nord", "7,9")]
    df = spark.createDataFrame(rows, "id long, street string, housenumber string")
    path = str(tmp_path / "out_tsv")
    write_tsv(df, path)
    back = spark.read.csv(path, sep="\t", header=True)
    assert back.columns == ["id", "street", "housenumber"]
    got = sorted(tuple(r) for r in back.collect())
    assert got == [(str(i), s, h) for i, s, h in rows]
