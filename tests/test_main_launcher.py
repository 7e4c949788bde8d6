"""E2e for the drop-in runner: a reference-format TOML config drives
live receivers + the streaming pipeline to queryable tables."""

import os
import time

from pyspark.sql import functions as F

from carbon_clickhouse_spark.__main__ import launch, parse_listen
from carbon_clickhouse_spark.config import load_config


def test_parse_listen():
    assert parse_listen(":2003", 0) == ("0.0.0.0", 2003)
    assert parse_listen("127.0.0.1:2004", 0) == ("127.0.0.1", 2004)
    assert parse_listen("", 2003) == ("0.0.0.0", 2003)


def test_launch_from_reference_toml(spark, tmp_path):
    from carbon_clickhouse_spark.streaming.receivers import send_lines

    conf = tmp_path / "carbon-clickhouse.conf"
    conf.write_text(
        """
[data]
path = "%s"
chunk-interval = "500ms"

[tcp]
listen = "127.0.0.1:0"
enabled = true
drop-future = "1h"

[udp]
listen = "127.0.0.1:0"
enabled = true

[upload.graphite]
type = "points"
table = "graphite"

[upload.graphite_index]
type = "index"
table = "graphite_index"
"""
        % str(tmp_path / "data")
    )
    cfg = load_config(str(conf))
    # future drops need a reference clock inside the test data range
    cfg_ingest = cfg.ingest()
    assert cfg_ingest.drop_future_seconds == 3600

    receivers, queries = launch(cfg, spark)
    try:
        rx = receivers[0]
        assert rx.port > 0 and rx.udp_port > 0  # both sockets bound
        lines = [f"conf.host{i % 2}.metric {i} {1625400000 + i}" for i in range(100)]
        send_lines("127.0.0.1", rx.port, lines)
        root = str(tmp_path / "data" / "tables")
        deadline = time.time() + 90
        n = 0
        while time.time() < deadline:
            try:
                n = spark.read.parquet(f"{root}/points").count()
                if n >= 100:
                    break
            except Exception:
                pass
            time.sleep(0.5)
        assert n == 100
        # the four table writes run concurrently inside the batch:
        # points can commit while the index append is still in
        # flight (a mid-write dir isn't readable), so poll it too
        deadline = time.time() + 60
        n_idx = 0
        while time.time() < deadline:
            try:
                n_idx = (
                    spark.read.parquet(f"{root}/index")
                    .filter(F.col("path") == "conf.host1.metric")
                    .count()
                )
                if n_idx > 0:
                    break
            except Exception:
                pass
            time.sleep(0.5)
        assert n_idx > 0
    finally:
        for rx in receivers:
            rx.stop()
        for q in queries:
            q.stop()


def test_launch_all_protocols(spark, tmp_path):
    """Scheme-dispatch parity (receiver/receiver.go:94-200): one TOML
    enabling plain TCP + pickle + prometheus + telegraf brings up four
    live fronts and four pipelines into one shared table root."""
    import json
    import pickle as pkl
    import socket
    import struct

    from carbon_clickhouse_spark.sources.snappy_block import compress
    from carbon_clickhouse_spark.streaming.receivers import send_lines
    from tests.test_live_fronts import _label, _post, _sample

    conf = tmp_path / "carbon-clickhouse.conf"
    conf.write_text(
        """
[data]
path = "%s"
chunk-interval = "300ms"

[tcp]
listen = "127.0.0.1:0"
enabled = true

[pickle]
listen = "127.0.0.1:0"
enabled = true

[prometheus]
listen = "127.0.0.1:0"
enabled = true

[telegraf_http_json]
listen = "127.0.0.1:0"
enabled = true
"""
        % str(tmp_path / "data")
    )
    cfg = load_config(str(conf))
    receivers, queries = launch(cfg, spark)
    assert len(receivers) == 4 and len(queries) == 4
    plain, pickle_rx, prom_rx, tele_rx = receivers
    try:
        send_lines("127.0.0.1", plain.port, ["plain.m 1.0 1625400000"])
        frame = pkl.dumps([("pickled.m", (1625400001, 2.0))])
        with socket.create_connection(("127.0.0.1", pickle_rx.port)) as s:
            s.sendall(struct.pack(">I", len(frame)) + frame)
        ts_msg = _label("__name__", "prom_m") + _sample(3.0, 1625400002000)
        assert _post(prom_rx.port, compress(bytes([1 << 3 | 2, len(ts_msg)]) + ts_msg)) == 200
        tele = {"metrics": [{"name": "tele", "timestamp": 1625400003,
                             "fields": {"value": 4.0}, "tags": {}}]}
        assert _post(tele_rx.port, json.dumps(tele).encode()) == 200

        root = str(tmp_path / "data" / "tables")
        deadline = time.time() + 90
        got = set()
        while time.time() < deadline:
            try:
                got = {
                    (r.path, r.value, r.time)
                    for r in spark.read.parquet(f"{root}/points").collect()
                }
                if len(got) >= 4:
                    break
            except Exception:
                pass
            time.sleep(0.5)
        assert got == {
            ("plain.m", 1.0, 1625400000),
            ("pickled.m", 2.0, 1625400001),
            ("prom_m?", 3.0, 1625400002),
            ("tele?", 4.0, 1625400003),
        }
    finally:
        for rx in receivers:
            rx.stop()
        for q in queries:
            q.stop()


def test_cat_and_recover_flags(tmp_path, capsys):
    """--cat dumps TSV from a good chunk; --recover salvages the good
    prefix of a truncated one (carbon-clickhouse.go:52-95 parity)."""
    import io

    from carbon_clickhouse_spark.__main__ import main
    from carbon_clickhouse_spark.sources.rowbinary import (
        decode_points,
        encode_points,
        write_chunk,
    )

    pts = [("cat.a", 1.5, 1625400000, 7), ("cat.b", 2.0, 1625400060, 7)]
    chunk = str(tmp_path / "good.bin")
    write_chunk(pts, chunk)

    assert main(["--cat", chunk]) == 0
    out = capsys.readouterr().out.strip().split("\n")
    assert out == [
        "cat.a\t1.5\t1625400000\t2021-07-04\t7",
        "cat.b\t2.0\t1625400060\t2021-07-04\t7",
    ]

    # corrupt chunk: good record + truncated tail
    data = encode_points(pts)
    bad = str(tmp_path / "bad.bin")
    with open(bad, "wb") as f:
        f.write(encode_points([pts[0]]) + data[: len(data) // 2 + 3])
    from carbon_clickhouse_spark.__main__ import recover_chunk

    buf = io.BytesIO()
    n = recover_chunk(bad, buf)
    assert n >= 1
    salvaged = decode_points(buf.getvalue())
    assert salvaged[0][:3] == ("cat.a", 1.5, 1625400000)
    # salvage output is itself a clean decodable stream
    assert len(salvaged) == n

    # lz4-compressed chunk cats identically
    lz4_chunk = write_chunk(pts, str(tmp_path / "good2.bin"), compress="lz4")
    assert main(["--cat", lz4_chunk]) == 0
    assert capsys.readouterr().out.strip().split("\n") == out


def test_compact_flag(spark, tmp_path, capsys):
    """--compact runs one merge cycle over a four-table root: index
    dedupes to max version per key, points collapse per rollup bucket."""
    import datetime as dt

    from carbon_clickhouse_spark.__main__ import main

    root = str(tmp_path / "tables")
    d = dt.date(2021, 7, 5)
    idx = spark.createDataFrame(
        [(d, 4, "m.a", 10), (d, 4, "m.a", 20), (d, 4, "m.b", 5)],
        "date date, level int, path string, version long",
    )
    idx.write.parquet(f"{root}/index")
    pts = spark.createDataFrame(
        [
            ("m.a.avg", 1.0, 1_625_478_240, d, 7),
            ("m.a.avg", 3.0, 1_625_478_241, d, 7),
        ],
        "path string, value double, time long, date date, version long",
    ).withColumn("month", F.date_format("date", "yyyyMM"))
    pts.write.partitionBy("month").parquet(f"{root}/points")
    rollup_xml = tmp_path / "rollup.xml"
    rollup_xml.write_text(
        "<yandex><graphite_rollup><default><function>avg</function>"
        "<retention><age>0</age><precision>60</precision></retention>"
        "</default></graphite_rollup></yandex>"
    )

    assert main(["--compact", root, "--rollup-conf", str(rollup_xml)]) == 0
    out = capsys.readouterr().out
    assert "compacted index" in out and "compacted points" in out

    got_idx = sorted(
        (r.path, r.version)
        for r in spark.read.parquet(f"{root}/index").collect()
    )
    assert got_idx == [("m.a", 20), ("m.b", 5)]
    got_pts = [
        (r.path, r.value)
        for r in spark.read.parquet(f"{root}/points").collect()
    ]
    # 60s buckets -> the two points merge into one avg row
    assert got_pts == [("m.a.avg", 2.0)]


def test_prepare_corpus_cli(tmp_path):
    """--prepare-corpus runs the datapipe chain over a documents
    parquet and writes corpus shards + the audit table."""
    import duckdb

    from carbon_clickhouse_spark.__main__ import main

    src = str(tmp_path / "docs.parquet")
    con = duckdb.connect()
    con.execute(
        "COPY (SELECT * FROM (VALUES "
        "(1, 'the cat sat on the mat and the dog sat on the rug while "
        "the bird sang in the tree and the sun rose over the hill'), "
        "(2, 'tiny')"
        ") t(doc_id, text)) TO '" + src + "' (FORMAT PARQUET)"
    )
    out = str(tmp_path / "out")
    rc = main([
        "--prepare-corpus", src, out,
        "--min-tokens", "5", "--shards", "2",
        "--master", "local[2]",
    ])
    assert rc == 0
    kept = con.execute(
        f"SELECT doc_id FROM read_parquet('{out}/corpus/*/*.parquet')"
    ).fetchall()
    assert [r[0] for r in kept] == [1]
    audit = con.execute(
        f"SELECT doc_id, stage FROM read_parquet('{out}/audit/*.parquet')"
    ).fetchall()
    assert (2, "quality") in audit


def test_prepare_corpus_cli_tokenize(tmp_path):
    """--prepare-corpus --tokenize: kept docs are BPE-trained,
    encoded, and packed into exact-length sequences with the
    tokenizer artifacts alongside."""
    import duckdb

    from carbon_clickhouse_spark.__main__ import main

    src = str(tmp_path / "docs.parquet")
    con = duckdb.connect()
    animals = ["cat", "dog", "bird", "fox", "hen", "owl"]
    vals = ", ".join(
        f"({i}, 'the {a} number {i} sat on the {a} mat and the {a} "
        f"{'sang ' * (i + 2)}in the {a} tree while the sun rose over "
        f"hill {i} and the {a} slept')"
        for i, a in enumerate(animals)
    )
    con.execute(
        f"COPY (SELECT * FROM (VALUES {vals}) t(doc_id, text)) "
        f"TO '{src}' (FORMAT PARQUET)"
    )
    out = str(tmp_path / "out")
    rc = main([
        "--prepare-corpus", src, out,
        "--min-tokens", "5", "--shards", "2",
        "--tokenize", "16", "--vocab-size", "120",
        "--master", "local[2]",
    ])
    assert rc == 0
    seqs = con.execute(
        f"SELECT token_ids FROM read_parquet('{out}/sequences/*/*.parquet')"
    ).fetchall()
    assert seqs and all(len(r[0]) == 16 for r in seqs)
    merges = con.execute(
        f"SELECT count(*) FROM read_parquet('{out}/tokenizer/merges/*.parquet')"
    ).fetchone()[0]
    vocab = con.execute(
        f"SELECT count(*) FROM read_parquet('{out}/tokenizer/vocab/*.parquet')"
    ).fetchone()[0]
    assert merges > 0 and vocab <= 120
    # eos id (= vocab size) appears in the packed stream
    n_eos = con.execute(
        f"SELECT count(*) FROM (SELECT unnest(token_ids) AS t FROM "
        f"read_parquet('{out}/sequences/*/*.parquet')) WHERE t = {vocab}"
    ).fetchone()[0]
    assert n_eos >= 1


def test_tokenizer_round_trips_through_load(spark, tmp_path):
    from carbon_clickhouse_spark.datapipe import bpe

    docs = spark.createDataFrame(
        [(f"d{i}", "low lower newest widest") for i in range(4)],
        "doc_id string, text string",
    )
    model = bpe.tokenize_corpus(
        docs, str(tmp_path / "tok"), seq_len=8, vocab_size=40
    )
    loaded = bpe.load_model(spark, str(tmp_path / "tok"))
    assert loaded.merges == model.merges
    assert loaded.vocab == model.vocab


def test_launch_uploads_to_clickhouse(spark, tmp_path):
    """--upload-to-clickhouse: live TCP lines land in parquet AND in
    the ClickHouse endpoint the config's [upload.*] URLs name (here
    the strict CH simulator), through the real gzip HTTP hop."""
    from carbon_clickhouse_spark.sinks.chsim import ClickHouseSim
    from carbon_clickhouse_spark.streaming.receivers import send_lines

    sim = ClickHouseSim(kinds={"custom_points": "points"})
    url = sim.start()
    conf = tmp_path / "carbon-clickhouse.conf"
    conf.write_text(
        """
[data]
path = "%s"
chunk-interval = "500ms"

[tcp]
listen = "127.0.0.1:0"
enabled = true

[upload.graphite]
type = "points"
table = "custom_points"
url = "%s/"
compress-data = true
zero-timestamp = true

[upload.graphite_index]
type = "index"
table = "graphite_index"
url = "%s/"
"""
        % (str(tmp_path / "data"), url, url)
    )
    cfg = load_config(str(conf))
    target = cfg.clickhouse_target()
    assert target is not None and target.gzip and target.zero_timestamp
    assert target.tables == {
        "points": "custom_points", "index": "graphite_index"
    }

    receivers, queries = launch(cfg, spark, upload=True)
    try:
        rx = receivers[0]
        send_lines(
            "127.0.0.1", rx.port,
            [f"up.host{i % 2}.metric {i} {1625400000 + i}" for i in range(20)],
        )
        deadline = time.time() + 90
        while time.time() < deadline and len(sim.rows("custom_points")) < 20:
            time.sleep(0.5)
        for q in queries:
            assert q.exception() is None
    finally:
        for rx in receivers:
            rx.stop()
        for q in queries:
            q.stop()
        sim.stop()
    pts = sim.rows("custom_points")
    assert len(pts) == 20
    assert all(ver == 0 for _, _, _, _, ver in pts)  # zero-timestamp
    assert len(sim.rows("graphite_index")) > 0
    # renamed points table was honored; default name unused
    assert not sim.rows("graphite")


def test_main_has_no_shadowing_stdlib_imports():
    """Regression: a branch-local ``import os`` inside main() makes
    ``os`` function-local and crashes every OTHER branch that uses it
    (UnboundLocalError at the --config runner's epoch-file join) —
    the module-level import must be the only one."""
    import ast
    import inspect

    import carbon_clickhouse_spark.__main__ as m

    tree = ast.parse(inspect.getsource(m.main))
    shadowed = [
        a.name
        for node in ast.walk(tree)
        if isinstance(node, ast.Import)
        for a in node.names
        if a.name in ("os", "time", "argparse", "json")
    ]
    assert shadowed == [], f"main() locally imports {shadowed}"


def test_reference_cli_flags(tmp_path, capsys):
    """--version / --config-print-default / --check-config /
    --exact-config parity (carbon-clickhouse.go:47-55)."""
    from carbon_clickhouse_spark import __version__
    from carbon_clickhouse_spark.__main__ import main
    from carbon_clickhouse_spark.config import load_config

    assert main(["--version"]) == 0
    assert __version__ in capsys.readouterr().out

    assert main(["--config-print-default"]) == 0
    default = capsys.readouterr().out
    # the default config is itself valid, exactly
    cfg = load_config(default, exact=True)
    assert cfg.receivers["tcp"].enabled and cfg.chunk_interval_s == 1.0

    good = tmp_path / "good.conf"
    good.write_text(default)
    assert main(["--check-config", str(good), "--exact-config"]) == 0
    assert "config OK" in capsys.readouterr().out

    bad = tmp_path / "bad.conf"
    bad.write_text("[data]\npath = '/tmp/x'\nchnk-interval = '1s'\n")
    # lax check passes (unknown key ignored), exact check fails loudly
    assert main(["--check-config", str(bad)]) == 0
    capsys.readouterr()
    assert main(["--check-config", str(bad), "--exact-config"]) == 1
    assert "chnk-interval" in capsys.readouterr().out


def test_prepare_corpus_cli_mix(tmp_path):
    """--prepare-corpus --mix: the kept docs are mixture-sampled per
    the weight vector before sharding/tokenizing; upsampled repeats
    get epoch-suffixed unique ids."""
    import duckdb

    from carbon_clickhouse_spark.__main__ import main

    src = str(tmp_path / "docs.parquet")
    con = duckdb.connect()
    import itertools

    # distinct texts so dedup keeps all of them
    letters = "abcdefghijklmnopqrstuvwxyz"
    combos = itertools.combinations(letters, 3)
    def text(i):
        return " ".join("".join(next(combos)) * 2 for _ in range(22))
    vals = ", ".join(
        f"({i}, '{s}', '{text(i)}')"
        for i, s in enumerate(["web"] * 8 + ["books"] * 2)
    )
    con.execute(
        f"COPY (SELECT * FROM (VALUES {vals}) t(doc_id, source, text)) "
        f"TO '{src}' (FORMAT PARQUET)"
    )
    out = str(tmp_path / "out")
    rc = main([
        "--prepare-corpus", src, out,
        "--min-tokens", "5", "--shards", "2",
        "--mix", "web=0.5,books=0.5", "--mix-total-tokens", "400",
        "--tokenize", "32", "--vocab-size", "100",
        "--master", "local[2]",
    ])
    assert rc == 0
    rows = con.execute(
        f"SELECT doc_id, source FROM read_parquet('{out}/corpus/*/*.parquet')"
    ).fetchall()
    by_src = {}
    for doc_id, s in rows:
        by_src.setdefault(s, []).append(doc_id)
        assert "#" in doc_id  # epoch-suffixed
    # books (2 docs, ~44 toks each) upsampled toward the 200-token
    # half share: repeats present
    assert len(by_src["books"]) > 2
    assert len(set(r[0] for r in rows)) == len(rows)  # ids unique
    seqs = con.execute(
        f"SELECT token_ids FROM read_parquet('{out}/sequences/*/*.parquet')"
    ).fetchall()
    assert seqs and all(len(r[0]) == 32 for r in seqs)


def test_launch_with_continuous_rollup(spark, tmp_path):
    """launch(continuous_rollup=60) runs the hot-tier rollup as a
    second consumer of the plain landing dir: live TCP lines land in
    both the points table and <tables>/rollup_hot finalized buckets."""
    from carbon_clickhouse_spark.streaming.receivers import send_lines

    conf = tmp_path / "carbon-clickhouse.conf"
    conf.write_text(
        """
[data]
path = "%s"
chunk-interval = "500ms"

[tcp]
listen = "127.0.0.1:0"
enabled = true
"""
        % str(tmp_path / "data")
    )
    cfg = load_config(str(conf))
    receivers, queries = launch(cfg, spark, continuous_rollup=60)
    assert len(queries) == 2  # ingest + rollup_hot
    base = 1625400000
    try:
        rx = receivers[0]
        send_lines(
            "127.0.0.1", rx.port,
            [f"cr6.a {v} {base + t}" for v, t in ((10, 0), (30, 30))]
            # watermark pusher so the first bucket finalizes
            + [f"cr6.a 5 {base + 3600}"],
        )
        root = str(tmp_path / "data" / "tables")
        deadline = time.time() + 90
        rows = {}
        while time.time() < deadline:
            try:
                rows = {
                    r["time"]: r
                    for r in spark.read.parquet(f"{root}/rollup_hot").collect()
                }
                if base in rows:
                    break
            except Exception:
                pass
            time.sleep(0.5)
        for q in queries:
            assert q.exception() is None
    finally:
        for rx in receivers:
            rx.stop()
        for q in queries:
            q.stop()
    b = rows[base]
    assert b["avg"] == 20.0 and b["cnt"] == 2 and b["last"] == 30.0
    assert spark.read.parquet(f"{root}/points").count() == 3
    # the tier is a PLAIN parquet dir (foreachBatch append), not a
    # streaming file sink: a _spark_metadata log would make the batch
    # rebuild (rebuild_rollup_tier) invisible to batch readers
    assert not os.path.exists(f"{root}/rollup_hot/_spark_metadata")
    # precision sidecar recorded for maintenance cycles
    from carbon_clickhouse_spark.streaming.analytics import tier_precision
    assert tier_precision(root) == 60


def test_continuous_rollup_keeps_a_legacy_flat_tier(spark, tmp_path):
    """The tier appender is the engine's table writer: onto a flat
    rollup_hot left by an older build it migrates the flat buckets into
    month= partitions first, so they stay readable next to the new ones
    (a bare partitioned append would hide every flat bucket)."""
    from carbon_clickhouse_spark.schemas import CONTRACT, read_table
    from carbon_clickhouse_spark.streaming.receivers import send_lines

    conf = tmp_path / "carbon-clickhouse.conf"
    conf.write_text(
        """
[data]
path = "%s"
chunk-interval = "500ms"

[tcp]
listen = "127.0.0.1:0"
enabled = true
"""
        % str(tmp_path / "data")
    )
    base = 1625400000
    root = str(tmp_path / "data" / "tables")
    spark.createDataFrame(
        [("old.a", base - 3600, 1.0, 1.0, 1.0, 1.0, 1, 1.0)],
        CONTRACT["rollup_hot"],
    ).write.parquet(f"{root}/rollup_hot")
    cfg = load_config(str(conf))
    receivers, queries = launch(cfg, spark, continuous_rollup=60)
    try:
        send_lines(
            "127.0.0.1", receivers[0].port,
            [f"new.a {v} {base + t}" for v, t in ((10, 0), (30, 30))]
            # watermark pusher so the first bucket finalizes
            + [f"new.a 5 {base + 3600}"],
        )
        deadline = time.time() + 90
        while time.time() < deadline:
            try:
                tier = read_table(spark, root, "rollup_hot")
                if tier.filter(F.col("path") == "new.a").count():
                    break
            except Exception:
                pass
            time.sleep(0.5)
        for q in queries:
            assert q.exception() is None
    finally:
        for rx in receivers:
            rx.stop()
        for q in queries:
            q.stop()
    rows = {
        (r["path"], r["time"]): r
        for r in read_table(spark, root, "rollup_hot").collect()
    }
    assert rows[("old.a", base - 3600)]["avg"] == 1.0
    assert rows[("new.a", base)]["avg"] == 20.0
