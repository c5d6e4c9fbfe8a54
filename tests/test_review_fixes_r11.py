"""Regression tests for the round-11 self-review findings (7 findings,
all fixed): variant refusals on the migrate/Delta paths, UTC-exact
hidden date binners, quote/glob-safe DuckDB footer fallback, OAuth
trailing-slash body parsing + RFC 8693 issued_token_type, and the
scd2 auto-selection probe short-circuit."""

from __future__ import annotations

import json
import urllib.parse
import urllib.request

import pytest
from pyspark.sql import functions as F

from hybrid_data_lakehouse_lab_spark.operators.timetravel import SnapshotTable

# Round 12 (VERDICT r11 item 1): slow tier — see pytest.ini; run
# the full suite with -m "".
pytestmark = pytest.mark.slow


def _variant_df(spark, n=4):
    return spark.range(n).select(
        "id",
        F.parse_json(F.format_string('{"k": %d}', "id")).alias("v"),
    )


def test_migrate_refuses_variant_cleanly(spark, tmp_path):
    from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
        migrate_parquet_dir,
    )

    src = str(tmp_path / "src")
    _variant_df(spark).write.parquet(src)
    with pytest.raises(NotImplementedError, match="VARIANT"):
        migrate_parquet_dir(spark, str(tmp_path / "t"), src)


def test_delta_variant_roundtrip_with_dvs(spark, tmp_path):
    """Delta VARIANT (variantType table feature, added later in round
    11 in place of the initial refusal): the log carries reader 3 /
    writer 7 with variantType in BOTH feature lists, stats fall back to
    numRecords-only (pyarrow cannot open VARIANT footers), and the DV
    masked read returns exact variant values at every version."""
    import json
    import os

    from hybrid_data_lakehouse_lab_spark.operators.delta_log import (
        export_delta_log,
        read_delta_table,
    )

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(_variant_df(spark, 10), committed_at_ms=1)
    t.write(_variant_df(spark, 10).filter("id % 3 != 0"), committed_at_ms=2)
    export_delta_log(t, mor_deletes=True)
    protos, num_records = [], []
    for fn in sorted(os.listdir(os.path.join(t.root, "_delta_log"))):
        if not fn.endswith(".json"):
            continue
        with open(os.path.join(t.root, "_delta_log", fn)) as fh:
            for line in fh:
                a = json.loads(line)
                if "protocol" in a:
                    protos.append(a["protocol"])
                if "add" in a and a["add"].get("stats"):
                    num_records.append(
                        json.loads(a["add"]["stats"])["numRecords"]
                    )
    (proto,) = protos
    assert proto["minReaderVersion"] == 3 and proto["minWriterVersion"] == 7
    assert "variantType" in proto["readerFeatures"]
    assert "variantType" in proto["writerFeatures"]
    # stats survive through the DuckDB-backed fallback (VARIANT footer);
    # empty Spark part files legitimately report 0
    assert num_records and sum(num_records) >= 10
    for version, want_ids in ((0, range(10)), (1, [i for i in range(10) if i % 3])):
        back = read_delta_table(spark, t.root, version=version)
        got = sorted(
            (r["id"], r["k"])
            for r in back.select(
                "id", F.try_variant_get("v", "$.k", "long").alias("k")
            ).collect()
        )
        assert got == [(i, i) for i in want_ids], version


def test_delta_variant_mid_history_protocol_upgrade(spark, tmp_path):
    """variant arriving via schema evolution mid-log emits the protocol
    UPGRADE action in that commit, like a real writer enabling a table
    feature."""
    import json
    import os

    from hybrid_data_lakehouse_lab_spark.operators.delta_log import (
        export_delta_log,
        read_delta_table,
    )

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(spark.range(4).selectExpr("id"), committed_at_ms=1)
    t.write(_variant_df(spark, 6), committed_at_ms=2)
    export_delta_log(t)
    by_version = {}
    for fn in sorted(os.listdir(os.path.join(t.root, "_delta_log"))):
        if fn.endswith(".json"):
            with open(os.path.join(t.root, "_delta_log", fn)) as fh:
                for line in fh:
                    a = json.loads(line)
                    if "protocol" in a:
                        by_version[int(fn.split(".")[0])] = a["protocol"]
    assert by_version[0] == {"minReaderVersion": 1, "minWriterVersion": 2}
    up = by_version[1]
    assert up["minReaderVersion"] == 3
    assert "variantType" in up["readerFeatures"]
    # legacy writer 2's implied capabilities are listed on conversion
    assert {"appendOnly", "invariants"} <= set(up["writerFeatures"])
    back = read_delta_table(spark, t.root)
    assert back.count() == 6
    assert back.schema["v"].dataType.simpleString() == "variant"


def test_hidden_day_transform_is_utc_exact(spark):
    """The spec's date binners are defined over the UTC instant for
    timestamptz; a non-UTC session must not shift the bin. 2024-03-01
    02:00 UTC is 2024-02-29 in America/Los_Angeles — the derived day
    value must stay the UTC epoch-day."""
    import datetime

    from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
        _hidden_transform_col,
    )

    df = spark.sql("SELECT timestamp'2024-03-01 02:00:00' AS ts")
    utc_day = (
        datetime.date(2024, 3, 1) - datetime.date(1970, 1, 1)
    ).days
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        for transform, want in (
            ("day", datetime.date(2024, 3, 1)),
            ("month", (2024 - 1970) * 12 + 2),
            ("year", 2024 - 1970),
        ):
            (got,) = df.select(
                _hidden_transform_col("ts", transform, None, "timestamptz")
                .alias("x")
            ).collect()[0]
            assert got == want, (transform, got)
        # sanity: the naive session-tz binner WOULD have been wrong
        (naive,) = df.select(F.to_date("ts").alias("d")).collect()[0]
        assert naive == datetime.date(2024, 2, 29)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert (want := utc_day) is not None  # silence unused warning


def test_parquet_row_count_fallback_survives_odd_paths(spark, tmp_path):
    """The DuckDB footer fallback (triggered by the Parquet VARIANT
    logical type) must use a parameterized read_parquet — a quote or a
    glob bracket in the path is a literal, not SQL or a glob."""
    from hybrid_data_lakehouse_lab_spark.operators.footer import read_footer

    odd = tmp_path / "o'brien [1]"
    _variant_df(spark, 7).coalesce(1).write.parquet(str(odd / "t"))
    parts = [
        p
        for p in (odd / "t").iterdir()
        if p.name.endswith(".parquet") and not p.name.startswith("_")
    ]
    assert parts
    assert read_footer(str(parts[0])).num_rows == 7


def test_oauth_trailing_slash_still_form_parsed(tmp_path):
    from hybrid_data_lakehouse_lab_spark.operators.rest_catalog import (
        IcebergRestCatalog,
    )

    with IcebergRestCatalog({}, warehouse_dir=str(tmp_path)) as uri:
        data = urllib.parse.urlencode(
            {
                "grant_type": "client_credentials",
                "client_id": "a",
                "client_secret": "b",
            }
        ).encode()
        req = urllib.request.Request(
            f"{uri}/v1/oauth/tokens/", data=data, method="POST"
        )
        with urllib.request.urlopen(req) as resp:
            body = json.loads(resp.read().decode())
        assert resp.status == 200 and body["token_type"] == "bearer"


def test_oauth_token_exchange_carries_issued_token_type(tmp_path):
    from hybrid_data_lakehouse_lab_spark.operators.rest_catalog import (
        IcebergRestCatalog,
    )

    with IcebergRestCatalog({}, warehouse_dir=str(tmp_path)) as uri:
        data = urllib.parse.urlencode(
            {
                "grant_type": (
                    "urn:ietf:params:oauth:grant-type:token-exchange"
                ),
                "subject_token": "tok",
                "subject_token_type": (
                    "urn:ietf:params:oauth:token-type:access_token"
                ),
            }
        ).encode()
        req = urllib.request.Request(
            f"{uri}/v1/oauth/tokens", data=data, method="POST"
        )
        with urllib.request.urlopen(req) as resp:
            body = json.loads(resp.read().decode())
        assert (
            body["issued_token_type"]
            == "urn:ietf:params:oauth:token-type:access_token"
        )


def test_scd2_auto_lsn_first_order_skips_probe_and_runs_plain(spark):
    """With order_cols not led by ts and no chunk_col, chunking is
    unreachable — auto must not pay the probe scan and must return the
    plain build's result."""
    from hybrid_data_lakehouse_lab_spark.operators.scd2 import (
        scd2_from_changes,
        scd2_from_changes_auto,
    )

    changes = spark.createDataFrame(
        [
            (1, "a", "2024-01-01 00:00:00", 1, "c"),
            (1, "b", "2024-01-01 01:00:00", 2, "u"),
        ],
        "id INT, payload STRING, ts_s STRING, lsn INT, op STRING",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    args = (changes, ["id"], ["payload"], "ts", "op", ["lsn", "ts"])
    plain = sorted(map(tuple, scd2_from_changes(*args).collect()))
    auto = sorted(
        map(tuple, scd2_from_changes_auto(*args, threshold=1).collect())
    )
    assert plain == auto


def test_uniform_dual_export_variant(spark, tmp_path):
    """UniForm over a VARIANT table: one data copy, both format facades
    — Iceberg v3 (schema type `variant`, DV delete) and Delta
    (variantType feature) — read back value-identical through their own
    metadata."""
    from hybrid_data_lakehouse_lab_spark.operators.delta_log import (
        export_delta_log,
        read_delta_table,
    )
    from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
        export_iceberg_metadata,
        read_iceberg_table,
    )

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(_variant_df(spark, 12), committed_at_ms=1)
    t.write(_variant_df(spark, 12).filter("id % 4 != 0"), committed_at_ms=2)
    export_iceberg_metadata(t, format_version=3)
    export_delta_log(t, mor_deletes=True)

    def vals(df):
        return sorted(
            (r["id"], r["k"])
            for r in df.select(
                "id", F.try_variant_get("v", "$.k", "long").alias("k")
            ).collect()
        )

    want_head = [(i, i) for i in range(12) if i % 4]
    assert vals(read_iceberg_table(spark, t.root)) == want_head
    assert vals(read_delta_table(spark, t.root)) == want_head
    assert vals(read_iceberg_table(spark, t.root, snapshot_id=1)) == [
        (i, i) for i in range(12)
    ]
    assert vals(read_delta_table(spark, t.root, version=0)) == [
        (i, i) for i in range(12)
    ]


# ---------------------------------------------------------------------------
# Second self-review batch (v3 lineage edges, REST conformance edges)
# ---------------------------------------------------------------------------


def test_registered_external_v3_tree_appends_without_409_loop(
    spark, tmp_path
):
    """A registered v3 tree WITHOUT next-row-id (external/pre-lineage)
    must append through the catalog: the stager and the commit
    validation share one cursor derivation, so the first append cannot
    409 forever."""
    import json
    import os

    from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
        export_iceberg_metadata,
        next_row_id_of,
        read_iceberg_table,
    )
    from hybrid_data_lakehouse_lab_spark.operators.rest_catalog import (
        IcebergRestCatalog,
        append_table_via_catalog,
        rest_load_table,
    )

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(spark.range(5).selectExpr("id"), committed_at_ms=1)
    meta_dir = export_iceberg_metadata(t, format_version=3)
    # strip next-row-id: simulate an external pre-lineage v3 tree
    with open(os.path.join(meta_dir, "version-hint.text")) as fh:
        n = fh.read().strip()
    mp = os.path.join(meta_dir, f"v{n}.metadata.json")
    md = json.load(open(mp))
    nri = md.pop("next-row-id")
    json.dump(md, open(mp, "w"))
    assert next_row_id_of(md) == nri  # derived == what was stripped
    with IcebergRestCatalog({("ns", "t"): t.root}) as uri:
        url = f"{uri}/v1/namespaces/ns/tables/t"
        append_table_via_catalog(
            spark, spark.range(5, 8).selectExpr("id"), url
        )
        md2 = rest_load_table(url)["metadata"]
        assert md2["next-row-id"] == nri + 3
        back = read_iceberg_table(spark, url, with_row_lineage=True)
        rows = sorted((r["id"], r["_row_id"]) for r in back.collect())
        assert [r[1] for r in rows] == list(range(8))


def test_v3_add_snapshot_without_lineage_fields_is_400(spark, tmp_path):
    from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
        stage_iceberg_append,
    )
    from hybrid_data_lakehouse_lab_spark.operators.rest_catalog import (
        IcebergRestCatalog,
        create_table_via_catalog,
        rest_commit_table,
        rest_create_namespace,
        rest_load_table,
    )

    df = spark.range(4).select(
        "id", F.parse_json(F.lit('{"a": 1}')).alias("v")
    )
    with IcebergRestCatalog({}, warehouse_dir=str(tmp_path)) as uri:
        rest_create_namespace(uri, ["ns"])
        create_table_via_catalog(uri, ["ns"], "t", df.schema)  # v3
        url = f"{uri}/v1/namespaces/ns/tables/t"
        md = rest_load_table(url)["metadata"]
        snap = stage_iceberg_append(spark, df, md)
        broken = {
            k: v
            for k, v in snap.items()
            if k not in ("first-row-id", "added-rows")
        }
        with pytest.raises(ValueError, match="row lineage is mandatory"):
            rest_commit_table(
                url, updates=[{"action": "add-snapshot", "snapshot": broken}]
            )


def test_reader_refuses_lineage_on_carried_forward_null_manifest(
    spark, tmp_path
):
    """A carried-forward data manifest with null first_row_id is
    spec-invalid; with_row_lineage must refuse rather than assign the
    NEW snapshot's range to old rows (plain reads still work)."""
    import json
    import os

    from hybrid_data_lakehouse_lab_spark.operators.avro_io import (
        read_avro,
        write_avro,
    )
    from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
        _manifest_list_schema,
        export_iceberg_metadata,
        read_iceberg_table,
    )

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(spark.range(4).selectExpr("id"), committed_at_ms=1)
    t.write(spark.range(9).selectExpr("id"), committed_at_ms=2)  # append
    export_iceberg_metadata(t, format_version=3)
    md = json.load(
        open(
            os.path.join(
                t.root,
                "metadata",
                f"v{open(os.path.join(t.root, 'metadata', 'version-hint.text')).read().strip()}.metadata.json",
            )
        )
    )
    head = next(
        s
        for s in md["snapshots"]
        if s["snapshot-id"] == md["current-snapshot-id"]
    )
    from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
        _entry_schema,
    )

    _, rows = read_avro(head["manifest-list"])
    # null the CARRIED-FORWARD manifest's ids (list row AND entries —
    # the exporter stamps explicit ids at both levels)
    for r in rows:
        if r["added_snapshot_id"] != head["snapshot-id"]:
            r["first_row_id"] = None
            _, entries = read_avro(r["manifest_path"])
            for e in entries:
                e["data_file"]["first_row_id"] = None
            write_avro(r["manifest_path"], _entry_schema([], 3), entries)
    write_avro(head["manifest-list"], _manifest_list_schema(3), rows)
    assert read_iceberg_table(spark, t.root).count() == 9  # plain read ok
    with pytest.raises(ValueError, match="first_row_id"):
        read_iceberg_table(spark, t.root, with_row_lineage=True)


def test_namespace_parent_with_literal_percent_not_double_decoded(
    tmp_path,
):
    from hybrid_data_lakehouse_lab_spark.operators.rest_catalog import (
        IcebergRestCatalog,
        rest_create_namespace,
        rest_get,
    )

    with IcebergRestCatalog({}, warehouse_dir=str(tmp_path)) as uri:
        # a namespace whose NAME contains a literal percent-escape
        rest_create_namespace(uri, ["x%79"])
        rest_create_namespace(uri, ["x%79", "kid"])
        got = rest_get(f"{uri}/v1/namespaces?parent=x%2579")
        assert got["namespaces"] == [["x%79", "kid"]]


def test_create_table_format_version_1_is_honored(tmp_path):
    from hybrid_data_lakehouse_lab_spark.operators.rest_catalog import (
        IcebergRestCatalog,
        rest_create_namespace,
        rest_create_table,
    )

    with IcebergRestCatalog({}, warehouse_dir=str(tmp_path)) as uri:
        rest_create_namespace(uri, ["ns"])
        lt = rest_create_table(
            uri,
            ["ns"],
            "t",
            [{"name": "id", "type": "long"}],
            properties={"format-version": "1"},
        )
        assert lt["metadata"]["format-version"] == 1
        with pytest.raises(ValueError, match="BadRequestException"):
            rest_create_table(
                uri,
                ["ns"],
                "t9",
                [{"name": "id", "type": "long"}],
                properties={"format-version": "9"},
            )


def test_delta_nested_variant_sets_protocol_feature(spark, tmp_path):
    import json
    import os

    from hybrid_data_lakehouse_lab_spark.operators.delta_log import (
        export_delta_log,
    )

    df = spark.range(3).select(
        "id",
        F.struct(
            F.parse_json(F.format_string('{"k": %d}', "id")).alias("inner")
        ).alias("s"),
    )
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(df, committed_at_ms=1)
    export_delta_log(t)
    with open(
        os.path.join(t.root, "_delta_log", "00000000000000000000.json")
    ) as fh:
        protos = [
            json.loads(line)["protocol"]
            for line in fh
            if '"protocol"' in line
        ]
    (proto,) = protos
    assert "variantType" in proto["readerFeatures"]
