"""Drop-in runner: start the engine from a reference-format
``carbon-clickhouse.conf``.

    python -m carbon_clickhouse_spark --config /etc/carbon-clickhouse.conf

A user of go-graphite's carbon-clickhouse keeps their config file:
``[tcp]/[udp]`` listen addresses become live socket receivers landing
chunk files (``streaming/receivers.py``), ``[data]`` drives the
micro-batch trigger and landing path, receiver drop rules and
``[upload.*]`` filter options flow into the four-table Structured
Streaming pipeline (``streaming/ingest.py``). Tables are written as
parquet under ``<data path>/tables/{points,index,tagged,dropped}`` —
the ClickHouse INSERT sink (``sinks/clickhouse.py``) attaches where
an ``[upload.*].url`` points at a live server.
"""

from __future__ import annotations

import argparse
import os
import time


def parse_listen(addr: str, default_port: int) -> tuple[str, int]:
    """Go-style listen address: ':2003' (all interfaces) or
    'host:port'. Empty -> all interfaces on the default port."""
    host, _, port = (addr or "").rpartition(":")
    return host or "0.0.0.0", int(port) if port else default_port


def launch(
    cfg,
    spark,
    data_root: str | None = None,
    upload: bool = False,
    collector=None,
    continuous_rollup: int = 0,
):
    """Start live fronts + one streaming pipeline per enabled protocol
    — parity with the reference's scheme dispatch
    (receiver/receiver.go:94-200). All pipelines append to the SAME
    four-table root (every reference receiver feeds the single
    writeChan, carbon/app.go:193); each has its own landing subdir and
    checkpoint. Returns (receivers, queries); caller owns shutdown."""
    from .streaming.ingest import (
        binary_landing_source,
        file_landing_source,
        start_grpc_ingest,
        start_pickle_ingest,
        start_plain_ingest,
        start_prometheus_ingest,
        start_telegraf_ingest,
    )
    from .streaming.receivers import (
        GrpcCarbonReceiver,
        HttpBodyReceiver,
        PickleReceiver,
        PlainLineReceiver,
        snappy_validator,
    )

    base = data_root or cfg.data_path
    tables = os.path.join(base, "tables")
    flush = min(cfg.chunk_interval_s, 1.0)

    def landing(name: str) -> str:
        d = os.path.join(base, "landing", name)
        os.makedirs(d, exist_ok=True)
        return d

    if collector is not None:
        spark.streams.addListener(collector)

    def stream_cfg(name: str, checkpoint_name: str | None = None):
        # checkpoint_name decouples durable stream identity from the
        # protocol label: the shared plain pipeline always checkpoints
        # under "tcp" so relabeling a UDP-only front does not orphan
        # the old checkpoint and replay the whole landing dir
        return cfg.stream(
            root=tables,
            receiver=name,
            upload=upload,
            checkpoint=os.path.join(
                base, "checkpoints", checkpoint_name or name
            ),
            collector=collector,
        )

    def enabled(name: str):
        r = cfg.receivers.get(name)
        return r if (r and r.enabled) else None

    receivers, queries = [], []

    tcp, udp = enabled("tcp"), enabled("udp")
    if tcp or udp:
        land = landing("plain")
        thost, tport = parse_listen(tcp.listen if tcp else "", 2003)
        uhost, uport = parse_listen(udp.listen if udp else "", 2003)
        receivers.append(
            PlainLineReceiver(
                land,
                host=thost if tcp else uhost,
                port=tport if tcp else 0,
                tcp=bool(tcp),
                udp=bool(udp),
                udp_port=uport,
                flush_interval=flush,
                read_timeout=tcp.read_timeout_s if tcp else 0.0,
                log_incomplete=bool(udp and udp.log_incomplete),
            ).start()
        )
        # the pipeline is shared, but its audit/debug/self-metric label
        # should name an ENABLED receiver: a UDP-only front must not
        # report its drops under "tcp" (reference keeps tcp and udp
        # stat modules distinct, carbon/app.go receiver wiring)
        queries.append(
            start_plain_ingest(
                spark,
                file_landing_source(spark, land),
                stream_cfg("tcp" if tcp else "udp", checkpoint_name="tcp"),
            )
        )

    pickle_rx = enabled("pickle")
    if pickle_rx:
        land = landing("pickle")
        host, port = parse_listen(pickle_rx.listen, 2004)
        receivers.append(
            PickleReceiver(land, host=host, port=port, flush_interval=flush).start()
        )
        queries.append(
            start_pickle_ingest(
                spark, binary_landing_source(spark, land), stream_cfg("pickle")
            )
        )

    prom = enabled("prometheus")
    if prom:
        land = landing("prometheus")
        host, port = parse_listen(prom.listen, 2006)
        receivers.append(
            HttpBodyReceiver(
                land, host=host, port=port,
                validate=snappy_validator, flush_interval=flush,
            ).start()
        )
        queries.append(
            start_prometheus_ingest(
                spark, binary_landing_source(spark, land), stream_cfg("prometheus")
            )
        )

    tele = enabled("telegraf_http_json")
    if tele:
        land = landing("telegraf")
        host, port = parse_listen(tele.listen, 2007)
        receivers.append(
            HttpBodyReceiver(
                land, host=host, port=port, flush_interval=flush
            ).start()
        )
        queries.append(
            start_telegraf_ingest(
                spark,
                binary_landing_source(spark, land),
                stream_cfg("telegraf_http_json"),
                concat=tele.concat,
            )
        )

    otlp = enabled("otlp")
    if otlp:
        # beyond the reference: OTLP metrics over HTTP, same landing
        # front as prometheus, shared canonicalization downstream
        from .streaming.ingest import start_otlp_ingest

        land = landing("otlp")
        host, port = parse_listen(otlp.listen, 4318)
        receivers.append(
            HttpBodyReceiver(
                land, host=host, port=port, flush_interval=flush
            ).start()
        )
        queries.append(
            start_otlp_ingest(
                spark, binary_landing_source(spark, land), stream_cfg("otlp")
            )
        )

    grpc_rx = enabled("grpc")
    if grpc_rx:
        land = landing("grpc")
        host, port = parse_listen(grpc_rx.listen, 2005)
        # grpcio is an optional extra; the decode pipeline runs either
        # way (a bridge can drop framed payloads into the landing dir)
        try:
            receivers.append(
                GrpcCarbonReceiver(
                    land, host=host, port=port, flush_interval=flush
                ).start()
            )
        except RuntimeError as e:
            print(f"grpc front disabled: {e}", flush=True)
        queries.append(
            start_grpc_ingest(
                spark, binary_landing_source(spark, land), stream_cfg("grpc")
            )
        )

    if continuous_rollup > 0:
        # hot-tier rollup (--continuous-rollup SECONDS): a file stream
        # over the DURABLE points table, so every protocol front feeds
        # it and the buckets aggregate exactly what ingest stored
        # (same parse, tag canonicalization, and drop rules — a
        # landing-dir consumer would diverge on all three). Finalized
        # buckets land in <tables>/rollup_hot; serve with
        # read_series(hot_rollup=) / streaming.analytics.serve_rollup.
        from pyspark.sql import types as T

        from .schemas import CONTRACT
        from .streaming.analytics import continuous_rollup as _crollup

        points_path = os.path.join(tables, "points")
        os.makedirs(points_path, exist_ok=True)
        # a file stream fixes its schema at start (maybe on an empty
        # dir): declare the month partition, typed as batch reads see it
        pts = spark.readStream.schema(
            T.StructType(
                CONTRACT["points"].fields
                + [T.StructField("month", T.IntegerType())]
            )
        ).parquet(points_path)
        tier_path = os.path.join(tables, "rollup_hot")
        os.makedirs(tier_path, exist_ok=True)
        # precision sidecar: rebuild_rollup_tier / --compact re-derive
        # the bucket width from the tier itself instead of trusting a
        # repeated flag ("_"-prefixed files are invisible to parquet
        # readers)
        with open(os.path.join(tier_path, "_precision"), "w") as fh:
            fh.write(str(int(continuous_rollup)))

        from .operators.layout import write_table

        def _append_tier(batch, _bid):
            # foreachBatch plain append, NOT a streaming file sink: a
            # file sink's _spark_metadata log would make any batch
            # maintenance rewrite (rebuild_rollup_tier) invisible to
            # batch readers. The table writer's lock keeps appends from
            # interleaving with that rewrite, its month= layout lets
            # the incremental refresh rewrite ONLY the months late
            # points touched, and its guard migrates a legacy flat tier
            write_table(batch, tier_path)

        queries.append(
            _crollup(pts, precision_s=continuous_rollup)
            .writeStream.outputMode("append")
            .foreachBatch(_append_tier)
            .option(
                "checkpointLocation",
                os.path.join(base, "checkpoints", "rollup_hot"),
            )
            .queryName("ccs-rollup-hot")
            .trigger(
                processingTime=f"{max(int(cfg.chunk_interval_s * 1000), 1)} milliseconds"
            )
            .start()
        )

    return receivers, queries


def serve_api(root: str, spark, host: str = "127.0.0.1", port: int = 0):
    """Start the graphite-web query facade over a four-table root:
    /metrics/find resolves globs on the stored index, /render
    evaluates target expressions (query/api.py vocabulary) on the
    stored points, re-opened per request so appended rows are served.
    Returns the started RenderApi (caller owns stop)."""
    from .query.api import GraphiteStore, RenderApi

    return RenderApi(
        GraphiteStore.open(spark, root), host=host, port=port
    ).start()


def _load_chunk(path: str) -> bytes:
    """Read a chunk file, transparently decompressing ``.lz4`` spool
    files (writer/writer.go:228-240 naming)."""
    with open(path, "rb") as f:
        data = f.read()
    if path.endswith(".lz4"):
        from .sources.lz4frame import decompress_frame

        data = decompress_frame(data)
    return data


def cat_chunk(path: str, out) -> int:
    """``-cat`` parity (carbon-clickhouse.go:63-85): print a RowBinary
    chunk in TabSeparated format — path, value, time, date, version —
    stopping at the first corrupt record like the reference reader."""
    import datetime

    from .sources.rowbinary import decode_points

    n = 0
    for p, value, time_, days, version in decode_points(_load_chunk(path)):
        date = datetime.date(1970, 1, 1) + datetime.timedelta(days=days)
        out.write(f"{p}\t{value!r}\t{time_}\t{date.isoformat()}\t{version}\n")
        n += 1
    return n


def recover_chunk(path: str, out) -> int:
    """``-recover`` parity (carbon-clickhouse.go:87-95): copy all good
    records from a (possibly truncated/corrupted) chunk to ``out`` as
    binary RowBinary — the decode stops at the first corruption, so
    everything before it is salvaged byte-exact."""
    from .sources.rowbinary import decode_points, encode_points

    good = decode_points(_load_chunk(path))
    out.write(encode_points([(p, v, t, ver) for p, v, t, _d, ver in good]))
    return len(good)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(
        prog="carbon_clickhouse_spark",
        description="run the PySpark carbon-clickhouse engine from a "
        "reference TOML config",
    )
    ap.add_argument("--config", default=None, help="carbon-clickhouse.conf path")
    ap.add_argument("--master", default=None, help="Spark master override")
    ap.add_argument(
        "--data-root", default=None,
        help="override [data] path (landing + tables live under it)",
    )
    ap.add_argument(
        "--version", action="store_true",
        help="print version and exit",
    )
    ap.add_argument(
        "--continuous-rollup", type=int, default=0, metavar="SECONDS",
        help="also run the watermarked streaming rollup at this bucket "
        "width into <tables>/rollup_hot (0 = off); serve with "
        "read_series(hot_rollup=)",
    )
    ap.add_argument(
        "--check-config", default=None, metavar="CONF",
        help="check config and exit (0 = parses; divergences printed)",
    )
    ap.add_argument(
        "--config-print-default", action="store_true",
        help="print default config and exit",
    )
    ap.add_argument(
        "--print-clickhouse-ddl", default=None, metavar="CONF",
        help="print the CREATE TABLE statements for the config's "
        "[upload.*] tables (the DDL the reference README has "
        "operators write by hand) and exit",
    )
    ap.add_argument(
        "--exact-config", action="store_true",
        help="with --config/--check-config: unknown keys are an error "
        "instead of being ignored",
    )
    ap.add_argument(
        "--cat", default=None, metavar="FILE",
        help="print RowBinary chunk file in TabSeparated format and exit",
    )
    ap.add_argument(
        "--recover", default=None, metavar="FILE",
        help="read all good records from a corrupted chunk file, write "
        "binary data to stdout, and exit",
    )
    ap.add_argument(
        "--compact", default=None, metavar="ROOT",
        help="run one compaction cycle over a four-table root "
        "(ReplacingMergeTree dedup on index/tagged, GraphiteMergeTree "
        "rollup on the points tables) and exit — the cron-able stand-in "
        "for ClickHouse's background merges",
    )
    ap.add_argument(
        "--months", default=None,
        help="with --compact: comma-separated yyyyMM month partitions "
        "to touch (default: every partition)",
    )
    ap.add_argument(
        "--rollup-conf", default=None, metavar="XML",
        help="with --compact: ClickHouse graphite_rollup XML (the "
        "reference's rollup.xml drops in directly; default: raw "
        "1-second precision rules)",
    )
    ap.add_argument(
        "--serve", default=None, metavar="ROOT",
        help="serve the graphite-web query API (/metrics/find, "
        "/render) over a four-table root and block",
    )
    ap.add_argument(
        "--api-listen", default="127.0.0.1:8080",
        help="with --serve: HOST:PORT for the query API",
    )
    ap.add_argument(
        "--prepare-corpus", nargs=2, default=None,
        metavar=("IN_PARQUET", "OUT_ROOT"),
        help="run the LLM-datapipe preparation chain (quality/language "
        "gates, exact + MinHash dedup, optional decontamination, PII "
        "scrub) over a documents parquet; writes OUT_ROOT/corpus "
        "shards + OUT_ROOT/audit and exits",
    )
    ap.add_argument(
        "--min-tokens", type=int, default=20,
        help="with --prepare-corpus: drop docs shorter than this",
    )
    ap.add_argument(
        "--languages", default=None,
        help="with --prepare-corpus: comma-separated lang_pred "
        "allowlist (default: keep all)",
    )
    ap.add_argument(
        "--benchmark", default=None, metavar="PARQUET",
        help="with --prepare-corpus: eval set to decontaminate against",
    )
    ap.add_argument(
        "--shards", type=int, default=64,
        help="with --prepare-corpus: output shard count",
    )
    ap.add_argument(
        "--substring-dedup", action="store_true",
        help="with --prepare-corpus: also cut corpus-repeated "
        "substrings (ExactSubstr pass) after doc-level dedup",
    )
    ap.add_argument(
        "--gopher", action="store_true",
        help="with --prepare-corpus: apply the Gopher document-"
        "quality rules as an additional gate",
    )
    ap.add_argument(
        "--mix", default=None, metavar="SRC=W,SRC=W",
        help="with --prepare-corpus: weighted multi-source mixture "
        "over the kept docs (datapipe/mix.py), e.g. web=0.6,books=0.4; "
        "sources not listed drop",
    )
    ap.add_argument(
        "--mix-total-tokens", type=int, default=None,
        help="with --mix: explicit token budget (enables upsampling); "
        "default sizes to the binding source",
    )
    ap.add_argument(
        "--tokenize", type=int, default=None, metavar="SEQ_LEN",
        help="with --prepare-corpus: train a BPE tokenizer on the "
        "kept docs, encode, and pack into exact SEQ_LEN training "
        "sequences (writes OUT_ROOT/sequences + OUT_ROOT/tokenizer)",
    )
    ap.add_argument(
        "--vocab-size", type=int, default=8192,
        help="with --tokenize: total tokenizer symbols to learn",
    )
    ap.add_argument(
        "--tokenizer", choices=("bpe", "unigram"), default="bpe",
        help="with --tokenize: the subword algorithm — bpe "
        "(Sennrich 2016 merges) or unigram (Kudo 2018 EM + prune, "
        "the SentencePiece unigram model)",
    )
    ap.add_argument(
        "--lm-reference", default=None, metavar="PARQUET",
        help="with --prepare-corpus: reference corpus for CCNet-style "
        "LM-perplexity banding; docs outside --lm-keep-bands drop",
    )
    ap.add_argument(
        "--lm-keep-bands", default="head,middle",
        help="with --lm-reference: comma-separated perplexity bands "
        "to keep (head = lowest perplexity)",
    )
    ap.add_argument(
        "--cluster-balance", default=None, metavar="EMB_PARQUET",
        help="with --prepare-corpus: embeddings parquet (doc_id or "
        "vec_id + embedding array<float>); clusters are rebalanced to "
        "the smallest one and losing docs dropped (DCLM-style cluster "
        "curation; docs without an embedding pass through)",
    )
    ap.add_argument(
        "--cluster-k", type=int, default=64,
        help="with --cluster-balance: number of centroid clusters",
    )
    ap.add_argument(
        "--cluster-refine", type=int, default=0,
        help="with --cluster-balance: full-data Lloyd refinement "
        "iterations over the centroid seeds (deterministic; one scan "
        "per iteration)",
    )
    ap.add_argument(
        "--upload-to-clickhouse", action="store_true",
        help="mirror every micro-batch into the ClickHouse named by "
        "the config's [upload.*] URLs (parquet tables stay the "
        "primary store; opt-in so an unreachable CH can't wedge "
        "ingest)",
    )
    args = ap.parse_args(argv)

    if args.version:
        from . import __version__

        print(f"carbon_clickhouse_spark {__version__}")
        return 0
    if args.config_print_default:
        from .config import DEFAULT_CONFIG

        print(DEFAULT_CONFIG, end="")
        return 0
    if args.print_clickhouse_ddl:
        from .config import clickhouse_ddl
        from .config import load_config as _lc

        try:
            cfg_ddl = _lc(args.print_clickhouse_ddl)
        except Exception as e:  # noqa: BLE001
            print(f"config error: {e}", flush=True)
            return 1
        print(clickhouse_ddl(cfg_ddl), end="")
        return 0
    if args.check_config:
        from .config import load_config as _lc

        try:
            cfg_chk = _lc(args.check_config, exact=args.exact_config)
        except Exception as e:  # noqa: BLE001
            print(f"config error: {e}", flush=True)
            return 1
        for d in cfg_chk.divergences():
            print(f"config: {d}", flush=True)
        print("config OK", flush=True)
        return 0
    if args.cat:
        import sys

        cat_chunk(args.cat, sys.stdout)
        return 0
    if args.recover:
        import sys

        recover_chunk(args.recover, sys.stdout.buffer)
        return 0
    if args.serve:
        from .session import get_spark

        spark = get_spark(
            app_name="carbon-clickhouse-spark-api", master=args.master
        )
        host, port = parse_listen(args.api_listen, 8080)
        api = serve_api(args.serve, spark, host=host, port=port)
        print(f"query api listening on {api.port}", flush=True)
        try:
            while True:
                time.sleep(1.0)
        except KeyboardInterrupt:
            pass
        finally:
            api.stop()
        return 0
    if args.prepare_corpus:
        from .datapipe.pack import write_corpus_shards
        from .datapipe.prepare import CorpusPrepConfig, prepare_corpus
        from .session import get_spark

        spark = get_spark(
            app_name="carbon-clickhouse-spark-prepare", master=args.master
        )
        in_path, out_root = args.prepare_corpus
        docs = spark.read.parquet(in_path)
        cfg = CorpusPrepConfig(
            min_tokens=args.min_tokens,
            languages=tuple(
                args.languages.split(",")
            ) if args.languages else (),
            benchmark=(
                spark.read.parquet(args.benchmark)
                if args.benchmark
                else None
            ),
            substring_dedup=args.substring_dedup,
            gopher=args.gopher,
            lm_reference=(
                spark.read.parquet(args.lm_reference)
                if args.lm_reference
                else None
            ),
            lm_keep_bands=tuple(args.lm_keep_bands.split(",")),
        )
        pool: list = []
        kept, audit = prepare_corpus(docs, cfg, persisted_pool=pool)
        if args.cluster_balance:
            from .datapipe.curation import apply_cluster_balance

            emb = spark.read.parquet(args.cluster_balance)
            emb_id = "doc_id" if "doc_id" in emb.columns else "vec_id"
            kept = apply_cluster_balance(
                kept, emb, k=args.cluster_k, id_col=emb_id,
                refine_iters=args.cluster_refine,
            )
        if args.mix:
            from pyspark.sql import functions as F

            from .datapipe.mix import mix_sources

            weights = {}
            for part in args.mix.split(","):
                s, _, w = part.partition("=")
                weights[s.strip()] = float(w)
            kept = mix_sources(
                kept, weights, total_tokens=args.mix_total_tokens
            )
            # repeats need unique ids for sharding/packing order
            kept = kept.withColumn(
                "doc_id", F.concat_ws("#", "doc_id", "epoch")
            )
        kept = kept.persist()
        try:
            write_corpus_shards(
                kept, os.path.join(out_root, "corpus"),
                n_shards=args.shards,
            )
            audit.write.mode("overwrite").parquet(
                os.path.join(out_root, "audit")
            )
            if args.tokenize:
                if args.tokenizer == "unigram":
                    from .datapipe.unigram import (
                        tokenize_corpus_unigram as _tok,
                    )
                else:
                    from .datapipe.bpe import tokenize_corpus as _tok

                _tok(
                    kept, out_root,
                    seq_len=args.tokenize, vocab_size=args.vocab_size,
                )
            n_kept = kept.count()
        finally:
            kept.unpersist()
            for df in pool:
                df.unpersist()
        print(f"prepared corpus: {n_kept} docs kept", flush=True)
        return 0
    if args.compact:
        from .operators.compaction import compact_replacing, compact_rollup
        from .operators.rollup import DEFAULT_RULES, rules_from_xml
        from .schemas import REPLACING_KEYS, read_table
        from .session import get_spark

        spark = get_spark(
            app_name="carbon-clickhouse-spark-compact", master=args.master
        )
        months = args.months.split(",") if args.months else None
        rules = (
            rules_from_xml(args.rollup_conf) if args.rollup_conf else DEFAULT_RULES
        )
        for table, keys in REPLACING_KEYS.items():
            if read_table(spark, args.compact, table) is not None:
                done = compact_replacing(
                    spark, os.path.join(args.compact, table), keys
                )
                print(
                    f"compacted {table} (replacing dedup, "
                    f"{len(done)} month partition(s))",
                    flush=True,
                )
        if read_table(spark, args.compact, "rollup_hot") is not None:
            # refresh the continuous-rollup serving tier from the
            # durable points BEFORE those points are physically
            # rolled up below (the tier must aggregate raw points);
            # precision comes from the tier's _precision sidecar
            # unless the flag overrides it
            from .streaming.analytics import rebuild_rollup_tier

            n = rebuild_rollup_tier(
                spark, args.compact,
                precision_s=args.continuous_rollup or None,
            )
            print(f"rebuilt rollup_hot ({n} buckets)", flush=True)
        for table in ("points", "points_reverse"):
            if read_table(spark, args.compact, table) is not None:
                path = os.path.join(args.compact, table)
                done = compact_rollup(spark, path, rules=rules, months=months)
                print(
                    f"compacted {table} (rollup, "
                    f"{len(done)} month partition(s))",
                    flush=True,
                )
        return 0
    if not args.config:
        ap.error("--config is required (unless --cat/--recover/--compact)")

    from .config import load_config
    from .session import get_spark

    cfg = load_config(args.config, exact=args.exact_config)
    for d in cfg.divergences():
        print(f"config: {d}", flush=True)
    master = args.master
    if master is None and cfg.max_cpu > 0:
        # reference [common] max-cpu = GOMAXPROCS -> local core count
        master = f"local[{cfg.max_cpu}]"
    spark = get_spark(app_name="carbon-clickhouse-spark", master=master)

    # [common] metric-endpoint: the reference ALWAYS runs its
    # collector — "local" (the default) writes carbon.agents.* into
    # its own tables, tcp://|udp:// ships graphite lines there with a
    # local fallback (collector.go:110-139). Wire the collector in
    # both modes so a drop-in default config keeps its self-metrics;
    # metric-interval = 0 is the explicit opt-out. The wall-clock
    # ticker mirrors the reference's collector loop — buffered
    # counters flush every metric-interval even when every stream is
    # idle.
    collector = None
    if cfg.metric_interval_s > 0 or cfg.metric_endpoint.startswith(
        ("tcp://", "udp://")
    ):
        from .streaming.collector import SelfMetricsCollector

        collector = SelfMetricsCollector(
            spark,
            os.path.join(args.data_root or cfg.data_path, "tables", "points"),
            prefix=cfg.metric_prefix,
            flush_interval_s=cfg.metric_interval_s or 60.0,
            endpoint=cfg.metric_endpoint,
        ).start_ticker()

    receivers, queries = launch(
        cfg, spark, data_root=args.data_root,
        upload=args.upload_to_clickhouse,
        continuous_rollup=args.continuous_rollup,
        collector=collector,
    )

    # SIGHUP = cache reset, like the reference (carbon/app.go:366-377:
    # HUP -> uploader Reset()). Bumps the shared epoch file consumed by
    # any stateful exists-cache (streaming/exists_cache.py); the
    # durable anti-join variant is storage-backed and self-heals, so
    # this only needs to clear the in-stream state.
    import signal

    from .streaming.exists_cache import ExistsCacheControl

    base = args.data_root or cfg.data_path
    cache_ctl = ExistsCacheControl(os.path.join(base, "exists_cache.epoch"))

    def _on_hup(signum, frame):
        epoch = cache_ctl.reset()
        print(f"HUP received: exists-cache reset (epoch {epoch})", flush=True)

    try:
        signal.signal(signal.SIGHUP, _on_hup)
    except (ValueError, AttributeError, OSError):
        pass  # non-main thread or platform without SIGHUP

    for rx in receivers:
        udp = getattr(rx, "udp_port", None)
        print(
            f"listening {type(rx).__name__} port={rx.port}"
            + (f" udp={udp}" if udp else ""),
            flush=True,
        )
    # graceful SIGTERM (systemd/docker stop): drain into the same
    # shutdown path as Ctrl-C so streams stop cleanly and the S7
    # collector's final flush is emitted, not killed mid-buffer
    def _on_term(signum, frame):
        raise KeyboardInterrupt

    try:
        signal.signal(signal.SIGTERM, _on_term)
    except ValueError:
        pass  # non-main thread
    try:
        while any(q.isActive for q in queries):
            time.sleep(1.0)
    except KeyboardInterrupt:
        pass
    finally:
        for rx in receivers:
            rx.stop()
        for q in queries:
            q.stop()
        if collector is not None:
            collector.close()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
