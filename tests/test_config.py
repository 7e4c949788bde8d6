"""Reference-format TOML config loader tests."""

import pytest

from carbon_clickhouse_spark.config import (
    load_config,
    parse_go_duration,
)


def test_parse_go_duration():
    assert parse_go_duration("2m30s") == 150.0
    assert parse_go_duration("1h") == 3600.0
    assert parse_go_duration("100ms") == 0.1
    assert parse_go_duration("5s") == 5.0
    assert parse_go_duration("") == 0.0
    assert parse_go_duration(None) == 0.0
    assert parse_go_duration("0") == 0.0
    with pytest.raises(ValueError):
        parse_go_duration("5 parsecs")


CONF = """
[common]
metric-prefix = "carbon.agents.{host}"
metric-interval = "30s"

[data]
path = "/data/carbon-clickhouse/"
chunk-interval = "5s"
chunk-auto-interval = "5:10s,20:60s"
compression = "lz4"

[upload.graphite]
type = "points"
table = "graphite"
url = "https://localhost:8443/"
timeout = "2m30s"
zero-timestamp = true
ignored-patterns = ["a.*.b", "c.*"]
[upload.graphite.tls]
ca-cert = ["/certs/ca.crt"]
server-name = "localhost"
insecure-skip-verify = false
[[upload.graphite.tls.certificates]]
cert = "/certs/client.crt"
key = "/certs/client.key"

[upload.graphite_index]
type = "index"
table = "graphite_index"
url = "http://localhost:8123/"
cache-ttl = "1h"
disable-daily-index = true

[upload.graphite_tagged]
type = "tagged"
table = "graphite_tagged"
url = "http://localhost:8123/"
threads = 3
ignored-tagged-metrics = ["noisy.metric"]

[tcp]
listen = ":2003"
enabled = true
drop-future = "1h"
drop-past = "48h"
drop-longer-than = 300

[udp]
enabled = false

[convert_to_tagged]
enabled = true
separator = "_"
tags = ["env=prod"]
templates = ["*.cpu.* metric.measurement*"]
"""


def test_load_reference_config_shapes():
    cfg = load_config(CONF)
    assert cfg.chunk_interval_s == 5.0
    assert cfg.chunk_auto_interval == "5:10s,20:60s"
    assert cfg.compression == "lz4"
    assert cfg.metric_interval_s == 30.0

    tcp = cfg.receivers["tcp"]
    assert tcp.enabled and tcp.drop_future_s == 3600.0
    assert tcp.drop_longer_than == 300
    assert not cfg.receivers["udp"].enabled

    up = cfg.uploads["graphite"]
    assert up.type == "points" and up.zero_timestamp
    assert up.timeout_s == 150.0
    assert up.ignored_patterns == ["a.*.b", "c.*"]
    assert up.tls is not None
    assert up.tls.ca_certs == ["/certs/ca.crt"]
    assert up.tls.certificates == [("/certs/client.crt", "/certs/client.key")]
    assert up.tls.server_name == "localhost"
    assert cfg.uploads["graphite_index"].cache_ttl_s == 3600.0

    ic = cfg.ingest("tcp")
    assert ic.drop_future_seconds == 3600
    assert ic.drop_past_seconds == 48 * 3600
    assert ic.drop_longer_than == 300
    assert ic.ignored_patterns == ["a.*.b", "c.*"]
    assert ic.ignored_tagged_metrics == ["noisy.metric"]
    assert ic.disable_daily_index is True

    assert cfg.tag_config is not None and cfg.tag_config.enabled
    assert cfg.tag_config.tag_map == {"env": "prod"}
    assert len(cfg.tag_config.template_descs) == 1

    sc = cfg.stream(root="/tmp/override")
    assert sc.root == "/tmp/override"
    assert sc.chunk_interval == "5000 milliseconds"
    assert sc.tag_config is cfg.tag_config


def test_load_reference_tls_template():
    """The reference's own TLS e2e config parses after substituting
    its template vars (tests/tls/carbon-clickhouse.conf.tpl)."""
    import os
    import re

    tpl = "/root/reference/tests/tls/carbon-clickhouse.conf.tpl"
    if not os.path.exists(tpl):  # pragma: no cover - sandbox layout
        pytest.skip("reference TLS config template not available")
    with open(tpl) as fh:
        text = fh.read()
    text = re.sub(r"\{\{[^}]*\}\}", "/tmp/x", text)
    cfg = load_config(text)
    assert cfg.chunk_interval_s == 5.0
    assert {u.type for u in cfg.uploads.values()} >= {
        "points", "points-reverse", "index", "tagged",
    }
    g = cfg.uploads["graphite"]
    assert g.zero_timestamp and g.tls is not None
    assert cfg.uploads["graphite_index"].disable_daily_index is True
    assert cfg.receivers["tcp"].enabled


def test_ingest_defaults_when_sections_missing():
    cfg = load_config("[common]\n")
    ic = cfg.ingest("tcp")
    assert ic.drop_future_seconds is None
    assert ic.ignored_patterns == []
    assert cfg.stream(root="/tmp/r").chunk_interval == "1000 milliseconds"


def test_common_and_data_extras():
    cfg = load_config(
        """
[common]
max-cpu = 4
metric-endpoint = "tcp://remote:2003"

[data]
path = "/tmp/x"
utc-date = false

[pprof]
enabled = true

[tcp]
listen = ":2003"
enabled = true
read-timeout = "2m0s"

[udp]
listen = ":2003"
enabled = true
log-incomplete = true
"""
    )
    assert cfg.max_cpu == 4
    assert cfg.metric_endpoint == "tcp://remote:2003"
    assert cfg.utc_date is False
    assert cfg.pprof_enabled is True
    assert cfg.receivers["tcp"].read_timeout_s == 120.0
    assert cfg.receivers["udp"].log_incomplete is True
    # every acknowledged-but-inert option is surfaced, not silent;
    # a tcp:// metric-endpoint is HONORED, so it is not a divergence
    d = "\n".join(cfg.divergences())
    assert "utc-date" in d and "pprof" in d
    assert "metric-endpoint" not in d
    bogus = load_config('[common]\nmetric-endpoint = "http://x"\n')
    assert any("metric-endpoint" in s for s in bogus.divergences())
    assert load_config("[common]\n").divergences() == []


def test_tls_version_and_cipher_options():
    cfg = load_config(
        """
[upload.graphite]
type = "points"
url = "https://ch:8443/"

[upload.graphite.tls]
ca-cert = []
min-version = "TLS12"
max-version = "TLS13"
insecure-skip-verify = true
"""
    )
    tls = cfg.uploads["graphite"].tls
    assert tls.min_version == "TLS12" and tls.max_version == "TLS13"
    import ssl

    ctx = tls.ssl_context()
    assert ctx.minimum_version == ssl.TLSVersion.TLSv1_2
    assert ctx.maximum_version == ssl.TLSVersion.TLSv1_3
    assert ctx.verify_mode == ssl.CERT_NONE


def test_exact_config_flags_unknown_tls_key():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="tls.min-versionn"):
        load_config(
            """
[upload.g]
type = "points"

[upload.g.tls]
min-versionn = "TLS12"
""",
            exact=True,
        )


def test_upload_hash_validated_and_divergence_reported(tmp_path):
    """uploader/hash.go knownHash parity: hash='city64' is accepted
    with a divergence note (xxhash64 stands in); any other value is a
    config error like the reference's unknown-hash lookup."""
    import pytest

    from carbon_clickhouse_spark.config import load_config

    conf = tmp_path / "h.conf"
    conf.write_text(
        """
[data]
path = "/tmp/x"

[upload.graphite_index]
type = "index"
table = "graphite_index"
hash = "city64"
"""
    )
    cfg = load_config(str(conf))
    assert any("hash='city64'" in d for d in cfg.divergences())

    conf.write_text(
        """
[data]
path = "/tmp/x"

[upload.graphite_index]
type = "index"
table = "graphite_index"
hash = "murmur"
"""
    )
    with pytest.raises(ValueError, match="unknown hash"):
        load_config(str(conf))


def test_chunk_max_size_suffixes(tmp_path):
    """helper/config/size.go: '128k'/'1m'/'2g' size strings parse
    like the reference (1024 multiples); plain ints still work."""
    from carbon_clickhouse_spark.config import load_config, parse_size

    conf = tmp_path / "s.conf"
    conf.write_text('[data]\npath = "/tmp/x"\nchunk-max-size = "128k"\n')
    assert load_config(str(conf)).chunk_max_size == 131072
    conf.write_text('[data]\npath = "/tmp/x"\nchunk-max-size = 512\n')
    assert load_config(str(conf)).chunk_max_size == 512
    assert parse_size("1g") == 1 << 30


def test_clickhouse_ddl_matches_readme_contract():
    """clickhouse_ddl emits exactly the table shapes the reference
    README has operators create by hand (README.md 'ClickHouse
    configuration'), with the deployment's own table names."""
    from carbon_clickhouse_spark.config import clickhouse_ddl, load_config

    cfg = load_config(
        """
[upload.graphite]
type = "points"
table = "graphite"

[upload.graphite_reverse]
type = "points-reverse"
table = "graphite_reverse"

[upload.graphite_index]
type = "index"
table = "graphite_index"

[upload.graphite_tags]
type = "tagged"
table = "my_tags"
"""
    )
    ddl = clickhouse_ddl(cfg)
    # the README's graphite table, verbatim modulo IF NOT EXISTS
    assert (
        "CREATE TABLE IF NOT EXISTS graphite (\n"
        "  Path String,\n  Value Float64,\n  Time UInt32,\n"
        "  Date Date,\n  Timestamp UInt32\n"
        ") ENGINE = GraphiteMergeTree('graphite_rollup')\n"
        "PARTITION BY toYYYYMM(Date)\nORDER BY (Path, Time);"
    ) in ddl
    assert "CREATE TABLE IF NOT EXISTS graphite_reverse (" in ddl
    assert "ORDER BY (Level, Path, Date);" in ddl
    # the configured (non-default) tagged table name is honored
    assert "CREATE TABLE IF NOT EXISTS my_tags (" in ddl
    assert "ORDER BY (Tag1, Path, Date);" in ddl
    assert ddl.count("CREATE TABLE") == 4


def test_clickhouse_ddl_skips_unknown_types():
    from carbon_clickhouse_spark.config import clickhouse_ddl, load_config

    cfg = load_config(
        """
[upload.weird]
type = "points"
table = "t1"
"""
    )
    cfg.uploads["weird"].type = "something-new"
    assert clickhouse_ddl(cfg) == ""


def test_clickhouse_ddl_golden_vs_reference_init_sql():
    """Statement-for-statement golden diff against the reference's own
    e2e ClickHouse schema (tests/clickhouse/rollup/init.sql — identical
    in the rollup_tls flavor): generating DDL for a config naming the
    same four default.* tables must reproduce every CREATE TABLE
    modulo whitespace. Pins the generator so it cannot drift from the
    documented contract."""
    import os
    import re

    from carbon_clickhouse_spark.config import clickhouse_ddl, load_config

    ref = "/root/reference/tests/clickhouse/rollup/init.sql"
    if not os.path.exists(ref):  # pragma: no cover - sandbox layout
        import pytest

        pytest.skip("reference init.sql not available")

    def statements(sql):
        # strip comments, split on ';', normalize all whitespace
        sql = re.sub(r"--[^\n]*", "", sql)
        return sorted(
            re.sub(r"\s+", " ", s).strip()
            for s in sql.split(";")
            if s.strip()
        )

    with open(ref) as fh:
        want = statements(fh.read())

    cfg = load_config(
        """
[upload.graphite]
type = "points"
table = "default.graphite"

[upload.graphite_reverse]
type = "points-reverse"
table = "default.graphite_reverse"

[upload.graphite_index]
type = "index"
table = "default.graphite_index"

[upload.graphite_tags]
type = "tagged"
table = "default.graphite_tags"
"""
    )
    got = statements(clickhouse_ddl(cfg))
    assert got == want
