"""Tests for the north-star extension surfaces: streaming, multimodal,
serving, dedup staging. Runs on sf0.001 (~1k-row tables) for speed; the
value-level correctness gate is tools/oracle_check.py at sf0.01."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from state_economics_end_to_end_data_pipeline_spark.io.readers import read_parquet_table
from state_economics_end_to_end_data_pipeline_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
    simhash_table,
)
from state_economics_end_to_end_data_pipeline_spark.operators.multimodal import (
    decode_media,
    fake_decode_meta,
    media_table,
)
from state_economics_end_to_end_data_pipeline_spark.operators.partitioning import (
    rebalance_for_cpu,
)
from state_economics_end_to_end_data_pipeline_spark.serving import DataServer, DataService
from state_economics_end_to_end_data_pipeline_spark.serving.service import MAX_LIMIT
from state_economics_end_to_end_data_pipeline_spark.streaming import (
    read_events_stream,
    run_available_now,
    session_windows,
    tumbling_counts,
)


# ------------------------------------------------------------- streaming


def test_streaming_tumbling_equals_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    streamed = run_available_now(tumbling_counts(stream), output_mode="complete")
    got = {
        (r["window"]["start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in streamed.collect()
    }
    ev = read_parquet_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total_value"),
        )
        .collect()
    )
    want = {
        (r["window"]["start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in batch
    }
    assert got == want


def test_streaming_sessions_have_valid_bounds(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    out = run_available_now(session_windows(stream), output_mode="complete").collect()
    assert len(out) > 0
    ev_count = read_parquet_table(spark, sf_dir, "events").count()
    assert sum(r["n_events"] for r in out) == ev_count
    for r in out:
        assert r["session_window"]["start"] < r["session_window"]["end"]


# ------------------------------------------------------------ multimodal


def test_fake_decode_is_deterministic_and_bounded():
    w, h, n, fmt = fake_decode_meta(b"hello world")
    assert (w, h, n, fmt) == fake_decode_meta(b"hello world")
    assert 1 <= w <= 4096 and 1 <= h <= 4096 and 1 <= n <= 240
    assert fmt in ("jpeg", "png", "webp", "gif")


def test_decode_media_mapinpandas(spark, sf_dir):
    docs = read_parquet_table(spark, sf_dir, "documents").limit(50)
    meta = decode_media(media_table(docs), decoder="fake")
    rows = meta.collect()
    assert len(rows) == 50
    one = docs.select("doc_id", F.col("text").cast("binary").alias("p")).first()
    expect = fake_decode_meta(bytes(one["p"]))
    got = [r for r in rows if r["doc_id"] == one["doc_id"]][0]
    assert (got["width"], got["height"], got["n_frames"], got["format"]) == expect


def test_bmp_roundtrip_pixel_exact():
    """The BMP synth/parse pair (round-6 pixel-level path, no env gate):
    a real bottom-up padded 24-bit BMP must decode back to the exact
    closed-form stats, the top-left probe must catch row-order bugs,
    and malformed payloads must fail loudly."""
    import hashlib

    import pytest as _pytest

    from state_economics_end_to_end_data_pipeline_spark.operators.multimodal import (
        parse_bmp_pixels,
        synth_bmp_payload,
    )

    for doc_id in (0, 7, 12345, 99999):
        h = hashlib.md5(f"{doc_id}:bmp".encode()).hexdigest()
        r0, g0, b0 = int(h[0:2], 16), int(h[2:4], 16), int(h[4:6], 16)
        w, ht = 1 + int(h[6:8], 16) % 8, 1 + int(h[8:10], 16) % 8
        got = parse_bmp_pixels(synth_bmp_payload(doc_id))
        assert got[0:2] == (w, ht)
        assert got[2] == sum((r0 + y) % 256 for y in range(ht)) / ht
        assert got[3] == sum((g0 + 2 * y) % 256 for y in range(ht)) / ht
        assert got[4] == sum((b0 + 3 * y) % 256 for y in range(ht)) / ht
        assert got[5:8] == (r0, g0, b0)  # top-left = image row 0
    with _pytest.raises(ValueError, match="not a BMP"):
        parse_bmp_pixels(b"PNG\x00" + b"\x00" * 60)


def test_decode_media_pillow_gate(spark, sf_dir):
    docs = read_parquet_table(spark, sf_dir, "documents").limit(1)
    try:
        import PIL  # noqa: F401

        pytest.skip("Pillow installed; gate not exercisable")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        decode_media(media_table(docs), decoder="pillow")


# --------------------------------------------------------------- serving


def test_data_service_catalog_and_limit(spark, sf_dir):
    svc = DataService(spark)
    svc.register_parquet("nation", f"{sf_dir}/nation.parquet")
    svc.register("region", read_parquet_table(spark, sf_dir, "region"))
    assert svc.list_tables() == ["nation", "region"]
    assert "n_name" in svc.columns("nation")
    out = svc.get_data("nation", limit=5)
    assert len(out["rows"]) == 5 and out["columns"] == svc.columns("nation")


def test_http_transport_round_trip(spark, sf_dir):
    """Real HTTP round-trip over the stdlib transport (reference
    finalprojectapi.py parity: POST /get_data with {"table","limit"}),
    plus the V1/V3 GET routes and the injection-shaped rejection the
    reference lacks. Ephemeral port; threaded server; stdlib client."""
    import json
    from urllib.error import HTTPError
    from urllib.request import Request, urlopen

    from state_economics_end_to_end_data_pipeline_spark.serving import DataServer

    svc = DataService(spark)
    svc.register("nation", read_parquet_table(spark, sf_dir, "nation"))
    with DataServer(svc) as srv:
        host, port = srv.address
        base = f"http://{host}:{port}"

        with urlopen(f"{base}/tables", timeout=30) as r:
            assert json.load(r)["tables"] == ["nation"]
        with urlopen(f"{base}/columns/nation", timeout=30) as r:
            assert "n_name" in json.load(r)["columns"]

        req = Request(
            f"{base}/get_data",
            data=json.dumps({"table": "nation", "limit": 3}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urlopen(req, timeout=60) as r:
            out = json.load(r)
        assert len(out["rows"]) == 3
        assert out["columns"] == svc.columns("nation")

        # the reference's injection path, rejected at the catalog
        bad = Request(
            f"{base}/get_data",
            data=json.dumps(
                {"table": "nation; DROP TABLE students", "limit": 3}
            ).encode(),
        )
        try:
            urlopen(bad, timeout=30)
            raise AssertionError("injection-shaped table name was accepted")
        except HTTPError as e:
            assert e.code == 404
        # out-of-bounds limit -> 400, not a full-table scan
        bad2 = Request(
            f"{base}/get_data",
            data=json.dumps({"table": "nation", "limit": 10**9}).encode(),
        )
        try:
            urlopen(bad2, timeout=30)
            raise AssertionError("unbounded limit was accepted")
        except HTTPError as e:
            assert e.code == 400
        # malformed body (no 'table' key) is the CLIENT's error: 400,
        # distinct from the 404 of a well-formed unknown-table request
        malformed = Request(f"{base}/get_data", data=b'{"limit": 3}')
        try:
            urlopen(malformed, timeout=30)
            raise AssertionError("body without 'table' was accepted")
        except HTTPError as e:
            assert e.code == 400
        # percent-encoded path segments resolve to the same table
        with urlopen(f"{base}/columns/natio%6E", timeout=30) as r:
            assert "n_name" in json.load(r)["columns"]


def test_data_service_rejects_bad_input(spark):
    svc = DataService(spark)
    with pytest.raises(KeyError):
        svc.get_data("nation; DROP TABLE students")
    svc._tables["t"] = None
    with pytest.raises(ValueError):
        svc.get_data("t", limit=0)
    with pytest.raises(ValueError):
        svc.get_data("t", limit="10")
    with pytest.raises(ValueError):
        svc.register("bad-name", None)


def _jobs_in_group(spark, group, fn) -> int:
    """Run ``fn`` under a job group; the number of Spark jobs it submitted."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_served_requests_submit_no_spark_jobs(spark, sf_dir):
    """Registration snapshots the table; the V1-V3 calls after it read
    the snapshot and submit no Spark job."""
    svc = DataService(spark)
    path = f"{sf_dir}/nation.parquet"
    assert _jobs_in_group(spark, "serving-register", lambda: svc.register_parquet("nation", path)) >= 1

    def requests():
        for limit in (1, 10, MAX_LIMIT):
            svc.get_data("nation", limit)
        svc.columns("nation")
        svc.list_tables()

    assert _jobs_in_group(spark, "serving-requests", requests) == 0


@pytest.fixture(scope="module")
def published(spark, fixture_paths, tmp_path_factory):
    """The economics ETL's 11 tables, validated and published as parquet."""
    from state_economics_end_to_end_data_pipeline_spark.pipelines.economics import (
        EconomicsETL,
    )

    tables = EconomicsETL(spark=spark, **fixture_paths).run(validate=True)
    return EconomicsETL.publish(tables, str(tmp_path_factory.mktemp("published")))


@pytest.mark.parametrize("table", ["table_gdp", "table_school_expenses"])
def test_snapshot_rows_equal_limit_query(spark, published, table):
    """On the Year-partitioned, multi-file published facts, the first n
    snapshot rows are exactly what ``limit(n).collect()`` returns."""
    df = spark.read.parquet(published[table])
    assert len(df.inputFiles()) > 1
    svc = DataService(spark)
    svc.register(table, df)
    for n in (1, 10, 1000, MAX_LIMIT):
        out = svc.get_data(table, n)
        assert out["columns"] == df.columns
        assert out["rows"] == [r.asDict() for r in df.limit(n).collect()], n


def test_served_payload_mutation_does_not_leak(spark):
    svc = DataService(spark)
    svc.register("t", spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    first = svc.get_data("t", 2)
    first["rows"][0]["v"] = "mutated"
    first["rows"].append({"k": 3, "v": "c"})
    first["columns"].append("extra")
    svc.columns("t").append("extra")
    assert svc.get_data("t", 2) == {
        "table": "t", "columns": ["k", "v"], "rows": [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}],
    }
    assert svc.columns("t") == ["k", "v"]


def test_reregistering_serves_the_new_data(spark):
    svc = DataService(spark)
    svc.register("t", spark.createDataFrame([(1,)], "k int"))
    svc.register("t", spark.createDataFrame([(7, "x"), (8, "y")], "id int, s string"))
    assert svc.list_tables() == ["t"]
    assert svc.columns("t") == ["id", "s"]
    assert svc.get_data("t", 10)["rows"] == [{"id": 7, "s": "x"}, {"id": 8, "s": "y"}]


def test_http_serves_dates_and_decimals_as_strings(spark, sf_dir):
    """POST /get_data on tables with timestamp, date and decimal columns
    answers 200: dates and timestamps as ISO-8601, decimals as strings."""
    import json
    from datetime import datetime
    from urllib.request import Request, urlopen

    svc = DataService(spark)
    svc.register("orders", read_parquet_table(spark, sf_dir, "orders"))
    svc.register(
        "typed",
        spark.sql("SELECT DATE'2021-03-04' AS d, CAST(1.10 AS DECIMAL(5, 2)) AS amount"),
    )
    want = svc.get_data("orders", 2)["rows"]
    with DataServer(svc) as srv:
        host, port = srv.address

        def post(table, limit):
            body = json.dumps({"table": table, "limit": limit}).encode()
            with urlopen(Request(f"http://{host}:{port}/get_data", data=body), timeout=60) as r:
                assert r.status == 200
                return json.load(r)

        rows = post("orders", 2)["rows"]
        assert [datetime.fromisoformat(r["o_orderdate"]) for r in rows] == [
            r["o_orderdate"] for r in want
        ]
        assert post("typed", 1)["rows"] == [{"d": "2021-03-04", "amount": "1.10"}]


# ------------------------------------------------------- dedup / rebalance


def test_minhash_lsh_finds_exact_duplicates(spark, sf_dir):
    docs = read_parquet_table(spark, sf_dir, "documents").limit(100)
    # plant an exact duplicate pair with distinct ids -- one
    # deterministic pick aliased twice (unordered limit(1) twice could
    # surface different rows)
    first = docs.orderBy("doc_id").limit(1)
    base = first.select(F.lit(900001).alias("doc_id"), "text")
    dup = first.select(F.lit(900002).alias("doc_id"), "text")
    aug = docs.select("doc_id", "text").union(base).union(dup)
    sigs = minhash_signatures(aug)
    pairs = lsh_candidate_pairs(sigs).collect()
    assert any(
        {r["id_a"], r["id_b"]} == {900001, 900002} for r in pairs
    ), "exact duplicates must share every LSH band"


def test_simhash_identical_docs_collide(spark, sf_dir):
    docs = read_parquet_table(spark, sf_dir, "documents").limit(5)
    h = simhash_table(docs).collect()
    h2 = simhash_table(docs).collect()
    assert {r["doc_id"]: r["simhash"] for r in h} == {
        r["doc_id"]: r["simhash"] for r in h2
    }
    assert all(0 <= r["simhash"] < 2**16 for r in h)


def test_rebalance_for_cpu_gating(spark, sf_dir):
    docs = read_parquet_table(spark, sf_dir, "documents")
    up = rebalance_for_cpu(docs, target=8)
    assert up.rdd.getNumPartitions() == 8
    assert rebalance_for_cpu(up, target=4) is up  # already wide enough: no-op


def test_profile_html_report(spark, sf_dir, tmp_path):
    from state_economics_end_to_end_data_pipeline_spark.io.readers import read_parquet_table
    from state_economics_end_to_end_data_pipeline_spark.operators.profile import (
        profile_report,
        write_profile_html,
        write_profile_json,
    )

    df = read_parquet_table(spark, sf_dir, "customer")
    prof = profile_report(df, "customer")
    html_path = str(tmp_path / "customer_report.html")
    write_profile_html(prof, html_path)
    write_profile_json(prof, str(tmp_path / "customer_report.json"))
    html = open(html_path).read()
    assert html.startswith("<!doctype html>")
    assert "<h1>customer</h1>" in html
    # every profiled column appears as a row
    for col in prof["columns"]:
        assert f"<th>{col}</th>" in html
    assert str(prof["n_rows"]) in html


def test_json_and_orc_round_trip(spark, sf_dir, tmp_path):
    from state_economics_end_to_end_data_pipeline_spark.io.readers import (
        read_json_lines,
        read_orc_table,
        read_parquet_table,
    )
    from state_economics_end_to_end_data_pipeline_spark.io.writers import (
        write_json_lines,
        write_orc,
    )

    src = read_parquet_table(spark, sf_dir, "nation")
    jdir, odir = str(tmp_path / "j"), str(tmp_path / "o")
    write_json_lines(src, jdir)
    write_orc(src, odir, partition_by=["n_regionkey"])
    back_j = read_json_lines(spark, jdir, schema=src.schema)
    back_o = read_orc_table(spark, odir)
    assert back_j.count() == back_o.count() == src.count()
    assert set(back_o.columns) == set(src.columns)
    # partitioned-orc scan prunes: one region's filter reads a subset
    pruned = back_o.filter("n_regionkey = 1")
    assert pruned.count() == src.filter("n_regionkey = 1").count()


def test_csv_quarantine_split(spark, tmp_path):
    from pyspark.sql import types as T
    from state_economics_end_to_end_data_pipeline_spark.io.readers import (
        read_csv_with_quarantine,
    )

    p = tmp_path / "mixed.csv"
    p.write_text(
        "id,amount,label\n"
        "1,10.5,ok\n"
        "2,not_a_number,bad-cast\n"
        "3,30.25,ok\n"
        '4,"unclosed quote,broken\n'
        "5,50.0,ok\n"
    )
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("amount", T.DoubleType()),
            T.StructField("label", T.StringType()),
        ]
    )
    good, bad = read_csv_with_quarantine(spark, str(p), schema)
    good_rows = {r["id"]: r for r in good.collect()}
    bad_rows = [r["raw_line"] for r in bad.collect()]
    assert set(good_rows) == {1, 3, 5}  # clean rows survive with typed schema
    assert good_rows[3]["amount"] == 30.25
    assert len(bad_rows) == 2  # uncastable + structurally-broken both kept
    assert any("not_a_number" in r for r in bad_rows)
    # nothing silently dropped: good + bad covers every data line
    assert good.count() + len(bad_rows) == 5


def test_foreach_batch_merge_exactly_once(spark, sf_dir, tmp_path):
    """Multi-batch stream merged into a versioned parquet target must equal
    the batch answer, and a replayed batch_id must be a no-op."""
    import json

    from pyspark.sql import functions as F

    from state_economics_end_to_end_data_pipeline_spark.io.readers import (
        read_parquet_table,
    )
    from state_economics_end_to_end_data_pipeline_spark.streaming.events import (
        merge_stream_into_parquet,
        read_merged_parquet,
    )

    # split events into 4 files so availableNow + maxFilesPerTrigger=1
    # yields multiple micro-batches
    src = str(tmp_path / "events_src")
    ev = read_parquet_table(spark, sf_dir, "events")
    ev.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    target = str(tmp_path / "user_totals")
    merge_stream_into_parquet(
        stream.select("user_id", "value", F.lit(1).alias("n")),
        target, keys=["user_id"], sum_cols=["n", "value"],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )

    got = {r["user_id"]: (r["n"], round(r["value"], 6))
           for r in read_merged_parquet(spark, target).collect()}
    want = {r["user_id"]: (r["n"], round(r["value"], 6))
            for r in ev.groupBy("user_id")
                       .agg(F.count("*").alias("n"), F.sum("value").alias("value"))
                       .collect()}
    assert got == want  # cumulative merge equals the batch aggregate

    state = json.load(open(f"{target}/_CURRENT"))
    assert state["last_batch_id"] >= 1  # really was multi-batch

    # replay safety: rerunning the whole stream with the SAME checkpoint
    # must apply nothing (all batch_ids already committed)
    stream2 = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    merge_stream_into_parquet(
        stream2.select("user_id", "value", F.lit(1).alias("n")),
        target, keys=["user_id"], sum_cols=["n", "value"],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    got2 = {r["user_id"]: (r["n"], round(r["value"], 6))
            for r in read_merged_parquet(spark, target).collect()}
    assert got2 == want  # nothing double-counted


def test_quality_features_tolerate_empty_documents(spark):
    """Empty / whitespace-only documents must not crash (ANSI division)
    and must follow the documented cross-engine convention: the
    whitespace split of '' is [''] in both Spark and DuckDB, so an empty
    doc counts exactly one zero-length token with mean_token_len 0.0 --
    a filterable signature (mean_token_len == 0), never an error."""
    from state_economics_end_to_end_data_pipeline_spark.operators.text import (
        quality_features,
    )

    df = spark.createDataFrame(
        [(1, "a real document here"), (2, ""), (3, "   ")],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r for r in quality_features(df).collect()}
    assert rows[1]["n_tokens"] == 4 and rows[1]["mean_token_len"] > 0
    for empty_id in (2, 3):
        r = rows[empty_id]
        assert r["n_tokens"] == 1  # the single empty-string token
        assert r["n_unique_tokens"] == 1
        assert r["mean_token_len"] == 0.0
        assert r["distinct_ratio"] == 1.0


def test_fk_orphans_detects_planted_orphan(spark):
    """The FK check must flag exactly the planted orphan, ignore NULL
    foreign keys (SQL FK semantics), and pass a consistent pair clean."""
    from state_economics_end_to_end_data_pipeline_spark.operators.quality import (
        fk_orphans,
    )

    parent = spark.createDataFrame([(1,), (2,)], "pk bigint")
    child = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 99), (13, None)], "id bigint, fk bigint"
    )
    orphans = fk_orphans(child, parent, "fk", "pk").collect()
    assert [r["id"] for r in orphans] == [12]  # 99 orphaned; NULL ignored
    clean = fk_orphans(child.filter("id < 12"), parent, "fk", "pk")
    assert clean.count() == 0


def test_fk_orphans_ignores_duplicate_parent_keys(spark):
    """An anti join's output does not depend on how often a parent key
    repeats: a parent with duplicated keys gives the same orphans, and a
    NULL foreign key is still not an orphan."""
    from state_economics_end_to_end_data_pipeline_spark.operators.quality import (
        fk_orphans,
    )

    parent = spark.createDataFrame([(1,), (2,)], "pk bigint")
    duplicated = parent.unionAll(parent).unionAll(spark.createDataFrame([(2,)], "pk bigint"))
    child = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 99), (13, None), (14, 99)], "id bigint, fk bigint"
    )

    def orphan_ids(p):
        return sorted(r["id"] for r in fk_orphans(child, p, "fk", "pk").collect())

    assert orphan_ids(duplicated) == orphan_ids(parent) == [12, 14]


def test_bloom_no_false_negatives_and_prunes(spark):
    """Bloom contract: every member key flags true (no false negatives);
    with a reasonably-sized bitmap, most non-members flag false (the
    pruning that makes the prefilter worthwhile); and a deliberately
    tiny bitmap still never loses a member -- it only over-admits."""
    from state_economics_end_to_end_data_pipeline_spark.operators.dedup import (
        bloom_build,
        bloom_maybe_contains,
    )

    members = spark.createDataFrame([(f"key_{i}",) for i in range(200)], "key string")
    others = spark.createDataFrame(
        [(i, f"other_{i}") for i in range(500)], "id bigint, key string"
    )
    mixed = others.unionByName(
        spark.createDataFrame(
            [(1000 + i, f"key_{i}") for i in range(200)], "id bigint, key string"
        )
    )

    words = bloom_build(members, "key", n_words=256, k=3)
    assert words.count() <= 256
    flags = {
        r["id"]: r["maybe"]
        for r in bloom_maybe_contains(
            mixed, "key", words, id_col="id", n_words=256, k=3, flag_col="maybe"
        ).collect()
    }
    assert all(flags[1000 + i] for i in range(200))  # no false negatives
    fp = sum(flags[i] for i in range(500))
    assert fp <= 10, f"FP rate implausibly high: {fp}/500"

    # tiny bitmap: saturated, admits much more -- but still no false negatives
    tiny = bloom_build(members, "key", n_words=2, k=3)
    tiny_flags = bloom_maybe_contains(
        mixed, "key", tiny, id_col="id", n_words=2, k=3, flag_col="maybe"
    )
    assert tiny_flags.filter("id >= 1000 AND NOT maybe").count() == 0


def test_bloom_union_equals_bloom_of_union(spark):
    """Mergeability contract: OR-ing per-batch bitmaps equals building
    one bitmap over the unioned key set, bit-for-bit -- the property that
    lets nightly ingest update a stored bloom without a history rebuild."""
    from state_economics_end_to_end_data_pipeline_spark.operators.dedup import (
        bloom_build,
        bloom_union,
    )

    a = spark.createDataFrame([(f"a_{i}",) for i in range(80)], "key string")
    b = spark.createDataFrame([(f"b_{i}",) for i in range(90)], "key string")
    merged = bloom_union(
        bloom_build(a, "key", n_words=64, k=3),
        bloom_build(b, "key", n_words=64, k=3),
    )
    direct = bloom_build(a.unionByName(b), "key", n_words=64, k=3)
    m = {r["word"]: r["bits"] for r in merged.collect()}
    d = {r["word"]: r["bits"] for r in direct.collect()}
    assert m == d


def test_python_datasource_writer_two_phase_commit(spark, tmp_path):
    """The write half of the Python DataSource API: rows land in temp
    files per task and become visible part files + an atomic _MANIFEST
    only at commit; the manifest's row count matches, and a read-back
    returns exactly the written rows."""
    import json
    import pathlib

    from state_economics_end_to_end_data_pipeline_spark.io.python_datasource import (
        JsonLinesCommitDataSource,
    )

    spark.dataSource.register(JsonLinesCommitDataSource)
    out = str(tmp_path / "jsonl_out")
    df = spark.range(100).selectExpr(
        "id", "concat('u', CAST(id % 7 AS STRING)) AS tag"
    ).repartition(4)
    df.write.format("jsonl_commit").mode("append").save(out)

    root = pathlib.Path(out)
    manifest = json.loads((root / "_MANIFEST").read_text())
    assert manifest["rows"] == 100
    parts = sorted(p.name for p in root.glob("part-*.jsonl"))
    assert parts == sorted(manifest["files"]) and len(parts) == 4
    assert not list(root.glob("_tmp-*"))  # no uncommitted leftovers

    back = spark.read.json(out, schema="id bigint, tag string")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_derive_band_bits_scaling_law():
    """Band width grows with log2(corpus): nibble-aligned, clamped, and
    the two anchor values the docs cite (24 at the 100x-probe corpus,
    40 at a 1e11-doc 100 TB corpus)."""
    from state_economics_end_to_end_data_pipeline_spark.operators.dedup import (
        derive_band_bits,
    )

    assert derive_band_bits(600_000) == 24
    assert derive_band_bits(100_000_000_000) == 40
    assert derive_band_bits(1) == 16  # floor
    assert derive_band_bits(2**240) == 60  # per-band bigint ceiling
    prev = 0
    for n in (10, 1000, 10**6, 10**9, 10**12):
        w = derive_band_bits(n)
        assert w % 4 == 0 and 16 <= w <= 60
        assert w >= prev  # monotone in corpus size
        prev = w


def test_simhash_bands_partition_the_wide_hash(spark, sf_dir):
    """The 4x24 band columns are deterministic, bounded by the band
    space, and identical docs agree on EVERY band (pigeonhole base
    case); a planted exact duplicate has per-band xor == 0, i.e. the
    summed hamming the entry filters on is exactly 0."""
    from state_economics_end_to_end_data_pipeline_spark.operators.dedup import (
        simhash_bands_table,
    )

    docs = read_parquet_table(spark, sf_dir, "documents").limit(20)
    # ONE deterministic pick aliased twice: two independent limit(1)
    # subtrees over an unordered frame may surface different rows
    first = docs.orderBy("doc_id").limit(1)
    base = first.select(F.lit(900001).alias("doc_id"), "text")
    dup = first.select(F.lit(900002).alias("doc_id"), "text")
    aug = docs.select("doc_id", "text").union(base).union(dup)
    rows = {
        r["doc_id"]: tuple(r[f"band{b}"] for b in range(4))
        for r in simhash_bands_table(aug, band_bits=24, n_bands=4).collect()
    }
    rows2 = {
        r["doc_id"]: tuple(r[f"band{b}"] for b in range(4))
        for r in simhash_bands_table(aug, band_bits=24, n_bands=4).collect()
    }
    assert rows == rows2  # deterministic
    assert all(
        0 <= v < 2**24 for bands in rows.values() for v in bands
    )  # band space bound
    assert rows[900001] == rows[900002]  # exact dup agrees on all bands
    ham = sum(
        bin(a ^ b).count("1") for a, b in zip(rows[900001], rows[900002])
    )
    assert ham == 0


def test_derive_band_bits_supply_clamp(spark):
    """The hash-SUPPLY side of the band sizing law (the law itself is
    pinned by test_derive_band_bits_scaling_law above): the vote hash
    must provide n_bands * w independent bits, so hash_bits clamps the
    derived width -- md5 (128 bits) tops out at 32-bit bands with 4
    bands, the 40-bit regime at 1e11 docs needs sha256 -- and a clamp
    that would push w below the 16-bit birthday floor raises rather
    than silently return a saturating width. simhash_band_cols
    enforces the same budget at expression-build time."""
    from state_economics_end_to_end_data_pipeline_spark.operators.dedup import (
        derive_band_bits,
        simhash_band_cols,
    )

    assert derive_band_bits(int(1e11), hash_bits=128) == 32  # md5 exhausted
    assert derive_band_bits(int(1e11), hash_bits=256) == 40  # sha256 suffices
    assert 4 * derive_band_bits(int(1e11), hash_bits=256) <= 256
    # a supply too short for even the 16-bit floor must fail LOUDLY:
    # w below the floor voids the birthday bound the function exists for
    with pytest.raises(ValueError):
        derive_band_bits(int(1e6), hash_bits=48)  # 48/4 = 12 < 16
    with pytest.raises(ValueError):
        derive_band_bits(int(1e6), hash_bits=12)
    # and the expression builder enforces the md5 budget loudly
    with pytest.raises(ValueError):
        simhash_band_cols(F.lit("00"), band_bits=40, n_bands=4)  # 160 > 128


# ------------------------------------------------------------ scan views


def test_scan_views_are_md5_named_and_reregistered_per_session(spark, tmp_path):
    """Two paths with the same table name get distinct views named by the
    path's md5; a second session (temp views are session-scoped)
    registers its own copy on its first read."""
    import hashlib

    dirs = [tmp_path / "a", tmp_path / "b"]
    for i, d in enumerate(dirs):
        spark.range(3 + i).write.parquet(str(d / "t.parquet"))
    views = [
        f"__sg_scan_t_{hashlib.md5(f'{d}/t.parquet'.encode()).hexdigest()}"
        for d in dirs
    ]
    assert not any(spark.catalog.tableExists(v) for v in views)
    counts = [read_parquet_table(spark, str(d), "t").count() for d in dirs]
    assert counts == [3, 4]
    assert all(spark.catalog.tableExists(v) for v in views)

    other = spark.newSession()
    assert not other.catalog.tableExists(views[0])
    assert read_parquet_table(other, str(dirs[0]), "t").count() == 3
    assert other.catalog.tableExists(views[0])


def test_scan_view_lookup_propagates_errors_other_than_a_missing_view(
    spark, tmp_path, monkeypatch
):
    d = tmp_path / "c"
    spark.range(2).write.parquet(str(d / "t.parquet"))
    read_parquet_table(spark, str(d), "t")  # memo warm

    other = spark.newSession()
    real, calls = other.table, []

    def flaky(name):  # fails once, then works: a retry would hide it
        calls.append(name)
        if len(calls) == 1:
            raise RuntimeError("catalog unavailable")
        return real(name)

    monkeypatch.setattr(other, "table", flaky)
    with pytest.raises(RuntimeError, match="catalog unavailable"):
        read_parquet_table(other, str(d), "t")


def test_clear_scan_memo_picks_up_a_rewritten_path(spark, tmp_path):
    """A rewritten path keeps the schema its scan view resolved until the
    caller drops the view; the next read then resolves the new footer."""
    import hashlib

    path = str(tmp_path / "t.parquet")
    view = f"__sg_scan_t_{hashlib.md5(path.encode()).hexdigest()}"
    spark.range(2).write.parquet(path)
    assert read_parquet_table(spark, str(tmp_path), "t").columns == ["id"]
    spark.range(2).withColumn("x", F.lit(1)).write.mode("overwrite").parquet(path)
    assert read_parquet_table(spark, str(tmp_path), "t").columns == ["id"]
    spark.catalog.dropTempView(view)
    assert read_parquet_table(spark, str(tmp_path), "t").columns == ["id", "x"]


def test_scan_sets_its_confs_on_a_session_that_lacks_them(spark, tmp_path):
    """A session without the two scan confs (one built outside get_spark)
    reads pyarrow's timestamp[ns] and naive timestamp[us] columns as
    TIMESTAMP with the exact microseconds; the footer is resolved once,
    so the second read of the path in that session runs no Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    micros = [1_600_000_000_123_456, 1_700_000_000_000_001]
    pq.write_table(
        pa.table({
            "k": [0, 1],
            "ns": pa.array([m * 1000 + 789 for m in micros], pa.timestamp("ns")),
            "us": pa.array(micros, pa.timestamp("us")),
        }),
        str(tmp_path / "ts.parquet"),
    )
    other = spark.newSession()
    other.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    other.conf.unset("spark.sql.parquet.inferTimestampNTZ.enabled")
    assert other.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false"
    assert other.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"

    def read():
        return read_parquet_table(other, str(tmp_path), "ts")

    # the footer job: the group sees the scan's jobs
    assert _jobs_in_group(other, "scan-first-read", read) >= 1
    assert _jobs_in_group(other, "scan-second-read", read) == 0
    df = read()
    assert dict(df.dtypes) == {"k": "bigint", "ns": "timestamp", "us": "timestamp"}
    got = df.select("k", F.unix_micros("ns"), F.unix_micros("us")).collect()
    assert sorted(tuple(r) for r in got) == [(i, m, m) for i, m in enumerate(micros)]
