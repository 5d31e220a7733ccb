"""Sources-layer tests (SURVEY.md §2.1 S1-S13) — canned fetchers, no network."""

from __future__ import annotations

from datetime import date

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from calp_cva_tracking_pipeline_spark.sources.external import (
    WEO_CONTENT_TYPE,
    decode_ifs_rates,
    decode_sdmx_json,
    fetch_wb_fx,
    probe_weo_version,
    weo_vintage_candidates,
)
from calp_cva_tracking_pipeline_spark.sources.files import (
    read_csv,
    read_tsv_utf16,
    write_partitioned,
)
from calp_cva_tracking_pipeline_spark.sources.rest import (
    build_flow_url,
    fetch_entities_distributed,
    fetch_paginated,
    paginated_json_df,
)

# --- S1/S2: paginated REST + URL pushdown -----------------------------------


def test_s2_url_pushdown():
    url = build_flow_url(year=2024, plan_id=7, page_size=500)
    assert "year=2024" in url and "planid=7" in url and "limit=500" in url
    assert "emergencyid" not in url  # unset filters stay out of the URL


def _canned_pages(base: str):
    page2 = base + "&page=2"
    return {
        base: {
            "data": {"flows": [{"id": 1, "amountUSD": 10.0}]},
            "meta": {"nextLink": page2},
        },
        page2: {
            "data": {"flows": [{"id": 2, "amountUSD": 20.0}]},
            "meta": {},
        },
    }


def test_s1_pagination_follows_next_link():
    base = build_flow_url(year=2024)
    pages = _canned_pages(base)
    calls: list[str] = []

    def fetcher(url):
        calls.append(url)
        return pages[url]

    rows = fetch_paginated(base, fetcher)
    assert [r["id"] for r in rows] == [1, 2]
    assert calls == list(pages)  # followed nextLink exactly once


def test_s1_paginated_df(spark):
    base = build_flow_url(year=2024)
    pages = _canned_pages(base)
    df = paginated_json_df(spark, base, pages.__getitem__)
    got = {(r["id"], r["amountUSD"]) for r in df.collect()}
    assert got == {(1, 10.0), (2, 20.0)}


def test_s1_http_fetcher_against_live_local_server(spark):
    # end-to-end over a REAL socket: stdlib http.server serving two pages
    # linked by meta.nextLink, fetched with the default http_json_fetcher
    import http.server
    import json as _json
    import threading

    from calp_cva_tracking_pipeline_spark.sources.rest import (
        http_json_fetcher,
    )

    state = {"fail_first": True}

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):  # keep pytest output clean
            pass

        def do_GET(self):
            if self.path.startswith("/flaky") and state["fail_first"]:
                state["fail_first"] = False
                self.send_response(503)
                self.end_headers()
                return
            if self.path.startswith("/missing"):
                self.send_response(404)
                self.end_headers()
                return
            port = self.server.server_address[1]
            if self.path.startswith("/page2"):
                body = {"data": {"flows": [{"id": 2, "amountUSD": 20.0}]},
                        "meta": {}}
            else:
                body = {"data": {"flows": [{"id": 1, "amountUSD": 10.0}]},
                        "meta": {"nextLink":
                                 f"http://127.0.0.1:{port}/page2"}}
            payload = _json.dumps(body).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        port = srv.server_address[1]
        fetch = http_json_fetcher(timeout=5, retries=3, sleep=lambda s: None)
        df = paginated_json_df(
            spark, f"http://127.0.0.1:{port}/page1", fetch
        )
        got = {(r["id"], r["amountUSD"]) for r in df.collect()}
        assert got == {(1, 10.0), (2, 20.0)}
        # transient 503 is retried to success
        assert fetch(f"http://127.0.0.1:{port}/flaky?x=1")["data"]
        # 4xx raises immediately, no retry
        import urllib.error

        import pytest as _pytest

        with _pytest.raises(urllib.error.HTTPError):
            fetch(f"http://127.0.0.1:{port}/missing")
    finally:
        srv.shutdown()
        srv.server_close()


# --- S9: per-entity distributed fetch ----------------------------------------


def test_s9_distributed_entity_fetch(spark):
    ids = spark.createDataFrame([(i,) for i in range(10)], "project_id long")
    schema = StructType(
        [
            StructField("project_id", LongType()),
            StructField("answer", StringType()),
        ]
    )

    def fetcher(url):
        # derive the response from the URL, proving each id got its own GET
        pid = int(url.rsplit("/", 1)[1])
        return {"answer": f"a{pid}"}

    def parse(pid, resp):
        return [{"project_id": pid, "answer": resp["answer"]}]

    out = fetch_entities_distributed(
        ids,
        "project_id",
        "https://example.invalid/project/{id}",
        fetcher,
        schema,
        parse,
        partitions=4,
    )
    got = {(r["project_id"], r["answer"]) for r in out.collect()}
    assert got == {(i, f"a{i}") for i in range(10)}


# --- S3/S4/S5: CSV round-trip with null tokens; partitioned parquet sink ----


def test_s3_s4_csv_roundtrip_null_tokens(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text(
        "iso,year,val,note\n"
        "FRA,2020,1.5,ok\nDEU,2021,n/a,NULL\nITA,2022,--,fine\n"
    )
    df = read_csv(
        spark, str(p), schema="iso string, year int, val double, note string"
    )
    rows = {r["iso"]: (r["val"], r["note"]) for r in df.collect()}
    assert rows["FRA"] == (1.5, "ok")  # typed parse
    assert rows["DEU"] == (None, None)  # n/a token + NULL string token
    assert rows["ITA"][0] is None  # '--' fails the double parse -> null


def test_s4_s5_partitioned_overwrite(spark, tmp_path):
    out = str(tmp_path / "facts")
    df1 = spark.createDataFrame(
        [(1, 2020, "a"), (2, 2021, "b")], "id long, year int, v string"
    )
    write_partitioned(df1, out, "year")
    # re-write ONE partition; the other must survive (dynamic overwrite)
    df2 = spark.createDataFrame([(3, 2021, "c")], "id long, year int, v string")
    write_partitioned(df2, out, "year")
    got = {
        (r["id"], r["year"], r["v"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {(1, 2020, "a"), (3, 2021, "c")}


# --- S7: UTF-16 TSV with WEO null tokens -------------------------------------


def test_read_csv_folds_null_tokens_in_one_projection(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("iso,`odd.name`,n\nFRA,NA,1\nDEU,ok,--\n--,NULL,2\n")
    df = read_csv(
        spark, str(p), schema="iso string, `odd.name` string, n int"
    )
    plan = df._jdf.queryExecution().optimizedPlan()
    # one Project directly over the scan, not one per null token
    assert plan.nodeName() == "Project", plan.toString()
    assert plan.children().apply(0).nodeName() == "LogicalRelation", (
        plan.toString()
    )
    # a filter over it pushes below the Project with ONE token test
    pushed = df.filter(F.col("iso") == "x")._jdf.queryExecution()
    filters = [
        line for line in pushed.optimizedPlan().toString().splitlines()
        if "Filter" in line
    ]
    assert len(filters) == 1 and filters[0].count("CASE WHEN") == 1, filters
    assert [tuple(r) for r in df.orderBy("n").collect()] == [
        ("DEU", "ok", None), ("FRA", None, 1), (None, None, 2),
    ]


def test_literal_table_plans_in_the_jvm(spark):
    from calp_cva_tracking_pipeline_spark.sources.literal import (
        literal_table,
    )

    ddl = "`a b` string, n int, x double"
    rows = [("it's", 1, 0.5), ("'); DROP TABLE t; --", None, None)]
    df = literal_table(spark, rows, ddl)
    assert [tuple(r) for r in df.collect()] == rows
    assert df.schema.simpleString() == "struct<a b:string,n:int,x:double>"
    assert "LocalTableScan" in (
        df._jdf.queryExecution().executedPlan().toString()
    )
    empty = literal_table(spark, [], ddl)
    assert empty.collect() == []
    assert empty.schema.simpleString() == df.schema.simpleString()
    with pytest.raises(ValueError, match="row 1"):
        literal_table(spark, [("a", 1, 1.0), ("b", 2)], ddl)


def test_write_partitioned_keeps_session_overwrite_static(spark, tmp_path):
    """The dynamic mode is per write: a later plain partitioned overwrite
    in the same session still replaces the whole table."""
    mode = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(mode)
    out = str(tmp_path / "facts")
    df = spark.createDataFrame(
        [(1, 2020), (2, 2021)], "id long, year int"
    )
    write_partitioned(df, out, "year")
    write_partitioned(df.filter("year = 2021"), out, "year")
    assert spark.conf.get(mode) == before
    assert sorted(tuple(r) for r in spark.read.parquet(out).collect()) == [
        (1, 2020), (2, 2021),
    ]
    plain = spark.createDataFrame([(3, 2022)], "id long, year int")
    plain.write.mode("overwrite").partitionBy("year").parquet(out)
    assert [tuple(r) for r in spark.read.parquet(out).collect()] == [
        (3, 2022)
    ]


def test_s7_tsv_utf16(spark, tmp_path):
    p = tmp_path / "weo.xls"  # the reference's .xls is really a TSV
    content = "ISO\t1980\t1981\nFRA\t1,234.5\tn/a\nDEU\t--\t7.5\n"
    p.write_bytes(content.encode("utf-16"))
    df = read_tsv_utf16(spark, str(p))
    rows = {r["ISO"]: (r["1980"], r["1981"]) for r in df.collect()}
    assert rows["FRA"] == ("1,234.5", None)
    assert rows["DEU"] == (None, "7.5")


# --- S6: Excel source (stdlib codec; openpyxl optional) ----------------------


def test_s6_excel(spark, tmp_path):
    """S6 executes without openpyxl: the fixture is written by the stdlib
    codec and read back through the public read_excel entry point (which
    falls back to xlsx_stdlib when openpyxl is absent)."""
    from calp_cva_tracking_pipeline_spark.sources.files import read_excel
    from calp_cva_tracking_pipeline_spark.sources.xlsx_stdlib import (
        write_xlsx,
    )

    p = tmp_path / "survey.xlsx"
    write_xlsx(
        str(p),
        {
            "Survey": [
                ["Organisation ", "Year", "PC.USD.m"],
                ["Org A", 2024, 1.25],
                ["Org B", 2023, 0.5],
            ]
        },
    )
    df = read_excel(spark, str(p))
    assert df.columns == ["Organisation", "Year", "PC.USD.m"]  # trimmed
    rows = {r["Organisation"]: (r["Year"], r["PC.USD.m"]) for r in df.collect()}
    assert rows == {"Org A": (2024, 1.25), "Org B": (2023, 0.5)}


def test_s6_excel_sheet_selection(spark, tmp_path):
    from calp_cva_tracking_pipeline_spark.sources.files import read_excel
    from calp_cva_tracking_pipeline_spark.sources.xlsx_stdlib import (
        write_xlsx,
    )

    p = tmp_path / "multi.xlsx"
    write_xlsx(
        str(p),
        {
            "First": [["a"], [1]],
            "Overlap \"quoted\" & more": [["b", "c"], [2, True]],
        },
    )
    # by index
    assert read_excel(spark, str(p), sheet=0).columns == ["a"]
    # by name, including a name needing attribute escaping
    df = read_excel(spark, str(p), sheet='Overlap "quoted" & more')
    assert df.columns == ["b", "c"]
    assert df.collect()[0]["c"] is True


def test_s6_excel_mixed_numeric_column_widens(spark, tmp_path):
    """A column holding both ints and floats must arrive as double (pandas
    widens on read; the stdlib fallback's schema inference over Python
    rows would otherwise hit a Long/Double merge conflict)."""
    from calp_cva_tracking_pipeline_spark.sources.files import read_excel
    from calp_cva_tracking_pipeline_spark.sources.xlsx_stdlib import (
        write_xlsx,
    )

    p = tmp_path / "mixed.xlsx"
    write_xlsx(
        str(p),
        {"S": [["org", "amount"], ["A", 10], ["B", 2.5], ["C", None]]},
    )
    df = read_excel(spark, str(p))
    assert dict(df.dtypes)["amount"] == "double"
    rows = {r["org"]: r["amount"] for r in df.collect()}
    assert rows == {"A": 10.0, "B": 2.5, "C": None}


def test_s6_xlsx_implicit_cell_position(tmp_path):
    """Cells lacking the optional r= attribute take the next sequential
    column (some writers legally omit r)."""
    import zipfile

    from calp_cva_tracking_pipeline_spark.sources.xlsx_stdlib import (
        read_xlsx,
        write_xlsx,
    )

    p = tmp_path / "noref.xlsx"
    write_xlsx(str(p), {"S": [["x", "y"], ["keep", "me"]]})
    # strip every r= attribute from the sheet XML
    with zipfile.ZipFile(p) as zf:
        parts = {n: zf.read(n) for n in zf.namelist()}
    sheet = parts["xl/worksheets/sheet1.xml"].decode()
    import re as _re

    parts["xl/worksheets/sheet1.xml"] = _re.sub(
        r' r="[A-Z]+\d+"', "", sheet
    ).encode()
    p2 = tmp_path / "noref2.xlsx"
    with zipfile.ZipFile(p2, "w") as zf:
        for n, data in parts.items():
            zf.writestr(n, data)
    header, rows = read_xlsx(str(p2))
    assert header == ["x", "y"]
    assert rows == [["keep", "me"]]


def _xlsx_roundtrip_normalize(v):
    # the codec's documented value mapping: integer-valued floats read back
    # as int; empty strings read back as None (empty inline string)
    if isinstance(v, float) and v.is_integer():
        return int(v)
    if v == "":
        return None
    return v


@given(
    rows=st.lists(
        st.lists(
            st.one_of(
                st.none(),
                st.booleans(),
                st.integers(min_value=-(2**53), max_value=2**53),
                st.floats(allow_nan=False, allow_infinity=False, width=64),
                st.text(
                    alphabet=st.characters(
                        min_codepoint=32, max_codepoint=0x2FFF
                    ),
                    max_size=40,
                ),
            ),
            min_size=3,
            max_size=3,
        ).filter(lambda r: any(c is not None for c in r)),
        min_size=0,
        max_size=8,
    )
)
@settings(max_examples=40, deadline=None)
def test_s6_xlsx_roundtrip_property(rows, tmp_path_factory):
    """write_xlsx -> read_xlsx identity over all 5 cell types (VERDICT r3 #8):
    None, bool, int, float, string (incl. XML-special and non-ASCII chars)."""
    from calp_cva_tracking_pipeline_spark.sources.xlsx_stdlib import (
        read_xlsx,
        write_xlsx,
    )

    tmp = tmp_path_factory.mktemp("xlsx")
    p = tmp / "prop.xlsx"
    header = ["c0", "c1", "c2"]
    write_xlsx(str(p), {"S": [header] + rows})
    got_header, got_rows = read_xlsx(str(p))
    assert got_header == header
    normalized = [[_xlsx_roundtrip_normalize(c) for c in r] for r in rows]
    # all-None rows (incl. rows of only empty strings) are dropped on read
    expected = [r for r in normalized if any(c is not None for c in r)]
    assert got_rows == expected


# --- S8: WEO vintage probing --------------------------------------------------


def test_s8_vintage_step_order():
    cands = weo_vintage_candidates(date(2025, 2, 14), max_probes=4)
    assert [v for v, _ in cands] == ["Feb2025", "Oct2024", "Apr2024", "Oct2023"]
    # seed inside (Apr, Oct] falls to April of the same year first
    cands = weo_vintage_candidates(date(2025, 8, 1), max_probes=3)
    assert [v for v, _ in cands] == ["Aug2025", "Apr2025", "Oct2024"]
    # month > 10 falls to October of the SAME year
    cands = weo_vintage_candidates(date(2024, 12, 1), max_probes=2)
    assert [v for v, _ in cands] == ["Dec2024", "Oct2024"]


def test_s8_probe_picks_first_matching_content_type():
    available = {"Oct2024"}

    def head(url):
        return (
            WEO_CONTENT_TYPE
            if any(v in url for v in available)
            else "text/html"
        )

    ver, url = probe_weo_version(date(2025, 2, 14), head)
    assert ver == "Oct2024" and "2024/October/WEOOct2024all.ashx" in url
    with pytest.raises(LookupError):
        probe_weo_version(date(2025, 2, 14), lambda u: "text/html")


# --- S11: SDMX-JSON decoder ---------------------------------------------------


def test_s11_sdmx_decode():
    payload = {
        "dataSets": [
            {
                "observations": {
                    "0:0": [1.5, 0],
                    "0:1": [2.5, None],
                    "1:0": [3.5, 1],
                }
            }
        ],
        "structure": {
            "dimensions": {
                "observation": [
                    {
                        "name": "Reference area",
                        "values": [
                            {"id": "FRA", "name": "France"},
                            {"id": "DEU", "name": "Germany"},
                        ],
                    },
                    {
                        "name": "Time period",
                        "values": [
                            {"id": "2020", "name": "2020"},
                            {"id": "2021", "name": "2021"},
                        ],
                    },
                ]
            },
            "attributes": {
                "observation": [
                    {
                        "name": "Unit",
                        "values": [
                            {"id": "EUR", "name": "Euro"},
                            {"id": "USD", "name": "US dollar"},
                        ],
                    }
                ]
            },
        },
    }
    rows = decode_sdmx_json(payload)
    assert {
        (r["Reference area"], r["Time period"], r["Unit"], r["value"])
        for r in rows
    } == {
        ("France", "2020", "Euro", 1.5),
        ("France", "2021", None, 2.5),
        ("Germany", "2020", "US dollar", 3.5),
    }


# --- S12: WB / IFS FX decoders -------------------------------------------------


def test_s12_wb_fx():
    payload = [
        {"page": 1},
        [
            {"countryiso3code": "FRA", "date": "2020", "value": 0.9},
            {"countryiso3code": "DEU", "date": "2020", "value": None},
            {"countryiso3code": "", "date": "2020", "value": 1.0},
        ],
    ]
    rows = fetch_wb_fx(lambda url: payload)
    assert rows == [{"iso3": "FRA", "year": 2020, "value": 0.9}]


def test_s12_ifs_decode():
    records = [
        {"ref_area": "FR", "date": "2020", "value": 0.9},
        {"ref_area": "XX", "date": "2020", "value": 1.0},  # unmappable
        {"ref_area": "DE", "date": "2021", "value": None},  # null value
    ]
    rows = decode_ifs_rates(records, {"FR": "FRA", "DE": "DEU"})
    assert rows == [{"iso3": "FRA", "year": 2020, "value": 0.9}]


def test_cached_table_build_once(spark, tmp_path):
    from calp_cva_tracking_pipeline_spark.sources.files import cached_table

    path = str(tmp_path / "cache")
    calls = []

    def build():
        calls.append(1)
        return spark.createDataFrame([(1, "a")], "id long, v string")

    df1 = cached_table(spark, path, build)
    df2 = cached_table(spark, path, build)          # served from cache
    assert len(calls) == 1
    assert df1.collect() == df2.collect()

    def build2():
        calls.append(1)
        return spark.createDataFrame([(2, "b")], "id long, v string")

    df3 = cached_table(spark, path, build2, force=True)  # forced rebuild
    assert len(calls) == 2
    assert df3.collect()[0]["id"] == 2


def test_write_partitioned_sorted_rowgroups(spark, tmp_path):
    from calp_cva_tracking_pipeline_spark.sources.files import (
        write_partitioned,
    )

    out = str(tmp_path / "sorted")
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 2).cast("int").alias("year")
    )
    write_partitioned(df, out, "year", sort_cols=["id"])
    back = spark.read.parquet(out)
    assert back.count() == 1000
    # min/max stats let a selective id filter skip row groups; at minimum
    # the filter is pushed and results are right
    assert back.filter(F.col("id") == 999).count() == 1


def test_events_ts_encodings_normalize(spark, tmp_path):
    """T() must yield a session-zoned TIMESTAMP ts for every physical
    encoding the driver's events.parquet has shipped with: TIMESTAMP(NANOS)
    (read as int64 via nanosAsLong), TIMESTAMP(MICROS) without the UTC flag
    (Spark: TIMESTAMP_NTZ — the round-4 testdata regeneration that broke 3
    queries + the whole bench), and UTC-flagged TIMESTAMP(MICROS)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampType

    from calp_cva_tracking_pipeline_spark.catalog.common import T

    wall = [
        datetime.datetime(2024, 1, 1, 12, 0, 0),
        datetime.datetime(2024, 6, 30, 23, 59, 59, 500000),
    ]
    encodings = {
        "nanos": pa.timestamp("ns"),
        "micros_ntz": pa.timestamp("us"),
        "micros_utc": pa.timestamp("us", tz="UTC"),
    }
    expect = [v.replace(tzinfo=None) for v in wall]
    for label, typ in encodings.items():
        d = tmp_path / label
        d.mkdir()
        tbl = pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(wall, pa.timestamp("us")).cast(typ),
            }
        )
        pq.write_table(tbl, d / "events.parquet")
        df = T(spark, str(d), "events")
        assert isinstance(df.schema["ts"].dataType, TimestampType), label
        got = sorted(
            r["ts"].replace(tzinfo=None)
            for r in df.select("ts").collect()
        )
        assert got == expect, label


def test_training_shard_jsonl_roundtrip(spark, tmp_path):
    from calp_cva_tracking_pipeline_spark.sources.files import (
        read_jsonl,
        write_jsonl_shards,
    )

    df = spark.createDataFrame(
        [(i, i % 4, f"doc {i}") for i in range(100)],
        "doc_id bigint, pack_id bigint, text string",
    )
    path = str(tmp_path / "shards")
    write_jsonl_shards(
        df, path, num_shards=4, shard_col="pack_id", sort_cols=["doc_id"]
    )
    import glob

    files = glob.glob(f"{path}/part-*.json.gz")
    # hash routing: at most num_shards files (collisions may empty a slot)
    assert 1 <= len(files) <= 4
    back = read_jsonl(
        spark, path, schema="doc_id bigint, pack_id bigint, text string"
    )
    assert back.count() == 100
    assert {r.doc_id for r in back.collect()} == set(range(100))
    # shard routing: each pack's rows live in exactly one shard file
    import gzip
    import json

    pack_files = {}
    for fp in files:
        with gzip.open(fp, "rt") as fh:
            for line in fh:
                pack_files.setdefault(json.loads(line)["pack_id"], set()).add(fp)
    assert all(len(fps) == 1 for fps in pack_files.values())
    # round-robin (no shard_col) yields exactly num_shards files
    rr_path = str(tmp_path / "rr")
    write_jsonl_shards(df, rr_path, num_shards=4)
    assert len(glob.glob(f"{rr_path}/part-*.json.gz")) == 4


def test_training_shards_validation(spark):
    import pytest

    from calp_cva_tracking_pipeline_spark.sources.files import (
        write_jsonl_shards,
    )

    df = spark.range(5)
    with pytest.raises(ValueError):
        write_jsonl_shards(df, "/tmp/x", num_shards=0)
