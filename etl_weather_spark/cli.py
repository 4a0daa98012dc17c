"""CLI — the reference's Typer surface (cli.py:1-113) re-expressed.

The reference exposes ``fetch`` / ``transform`` / ``report`` / ``all``
over one city's files. Here the same verbs operate on the engine's
tables (any scale), argparse-only so the CLI has zero extra deps:

- ``daily``     — build the gold daily table (flags included) and write
                  it partitioned by date (transform analog, cli.py:44-66).
- ``report``    — print the period summary + recommendation for the
                  daily table (report analog, cli.py:69-80).
- ``query``     — run any registered engine query by name (the
                  generalization of the reference's fixed pipeline).
- ``bench``     — the headline benchmark (driver-compatible JSON line).

``fetch`` stays an ingestion job by design (SURVEY §2.1 S1-S5): the
engine consumes landed documents (sources/openmeteo, the custom
``openmeteo`` DataSource) rather than calling HTTP inside queries.
"""

from __future__ import annotations

import argparse
import sys


def _spark(cpus: int | None = None):
    from etl_weather_spark.session import get_spark

    kwargs = {}
    if cpus:
        kwargs["master"] = f"local[{cpus}]"
        kwargs["shuffle_partitions"] = cpus
    return get_spark(app_name="etl-weather-spark-cli", **kwargs)


def cmd_fetch(args: argparse.Namespace) -> int:
    """Reference `etl-weather fetch` (fetch.py:85-139): land raw JSON
    for a city into the bronze dir. --offline uses --sample-dir; the
    live path uses the public Open-Meteo endpoints via stdlib urllib.
    No Spark session needed — landing is the driver/edge step."""
    from etl_weather_spark.sources.openmeteo import NetworkError, land_raw

    try:
        out = land_raw(
            args.city,
            args.raw_dir,
            days=args.days,
            timezone=args.timezone,
            offline=args.offline,
            sample_dir=args.sample_dir,
            fallback=not args.no_fallback,
        )
    except (NetworkError, FileNotFoundError, ValueError) as ex:
        print(f"fetch failed: {ex}")
        return 1
    for k, v in out.items():
        print(f"  {k}: {v}")
    return 0


def cmd_all(args: argparse.Namespace) -> int:
    """Reference `etl-weather all` (cli.py:82-109): fetch → transform →
    report for one city. Lands raw JSON, builds the daily gold table
    (normalize → outer-merge → daily agg), writes it as CSV, and
    renders the city HTML report — the complete reference pipeline in
    one command."""
    import csv as _csv
    import os

    from etl_weather_spark.operators.pipeline import (
        daily_from_hourly,
        merge_hourly,
        summary_from_daily,
    )
    from etl_weather_spark.report import render_report
    from etl_weather_spark.sources.openmeteo import (
        HOURLY_AIR_FIELDS,
        HOURLY_WEATHER_FIELDS,
        NetworkError,
        land_raw,
        normalize_hourly,
        read_raw_json,
    )

    try:
        landed = land_raw(
            args.city,
            args.raw_dir,
            days=args.days,
            timezone=args.timezone,
            offline=args.offline,
            sample_dir=args.sample_dir,
            fallback=not args.no_fallback,
        )
    except (NetworkError, FileNotFoundError, ValueError) as ex:
        print(f"fetch failed: {ex}")
        return 1

    spark = _spark(args.cpus)
    hw = normalize_hourly(
        read_raw_json(spark, landed["weather_latest"], HOURLY_WEATHER_FIELDS),
        HOURLY_WEATHER_FIELDS,
    )
    ha = normalize_hourly(
        read_raw_json(spark, landed["air_latest"], HOURLY_AIR_FIELDS),
        HOURLY_AIR_FIELDS,
    )
    daily = daily_from_hourly(merge_hourly(hw, ha))
    rows = [r.asDict() for r in daily.collect()]  # one city, in date order
    if not rows:
        print("no daily rows produced")
        return 1

    slug = landed["slug"]
    csv_path = args.csv_out or os.path.join(args.raw_dir, "..", "gold", f"{slug}_daily.csv")
    os.makedirs(os.path.dirname(csv_path) or ".", exist_ok=True)
    with open(csv_path, "w", newline="", encoding="utf-8") as f:
        w = _csv.DictWriter(f, fieldnames=list(rows[0].keys()))
        w.writeheader()
        w.writerows(rows)

    s = summary_from_daily(daily).collect()[0].asDict()
    html_text = render_report(
        title=args.city,
        summary={
            "period_avg": s["period_pm25_avg"],
            "period_max": s["period_temp_max"],
            "wettest_date": s["wettest_date"],
            "wettest_sum": s["wettest_rain"],
            "rainy_days": s["rainy_days"],
            "n_days": s["n_days"],
        },
        daily=[
            {"date": d["date"], "vavg": d["pm25_avg"], "vsum": d["total_rain"]}
            for d in rows
        ],
        recommendation=str(s["recommendation"]),
    )
    out_path = args.output or os.path.join("reports", f"{slug}.html")
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    with open(out_path, "w", encoding="utf-8") as f:
        f.write(html_text)
    print(f"daily csv -> {csv_path}")
    print(f"report -> {out_path}")
    return 0


def cmd_daily(args: argparse.Namespace) -> int:
    from etl_weather_spark import queries as q

    spark = _spark(args.cpus)
    df = q.daily_flags(spark, args.sf_dir)
    writer = df.write.mode("overwrite")
    if args.partition:
        writer = writer.partitionBy("date")
    writer.parquet(args.out)
    print(f"wrote daily table -> {args.out}")
    return 0


def cmd_report(args: argparse.Namespace) -> int:
    from etl_weather_spark import queries as q

    spark = _spark(args.cpus)
    if getattr(args, "html", None):
        from etl_weather_spark.report import save_report

        path = save_report(spark, args.sf_dir, args.html)
        print(f"wrote report -> {path}")
        return 0
    summary = q.global_summary(spark, args.sf_dir).collect()[0]
    rec = q.recommendation_text(spark, args.sf_dir).collect()
    print("period summary:")
    for k, v in summary.asDict().items():
        print(f"  {k}: {v}")
    print("recommendations:")
    for r in rec[:5]:
        print(f"  {r.asDict()}")
    return 0


def cmd_query(args: argparse.Namespace) -> int:
    from etl_weather_spark import queries as q

    registry = q.queries()
    if args.name not in registry:
        print(f"unknown query {args.name!r}; available: {', '.join(sorted(registry))}")
        return 2
    spark = _spark(args.cpus)
    df = registry[args.name](spark, args.sf_dir)
    df.show(args.limit, truncate=False)
    return 0


def cmd_sql(args: argparse.Namespace) -> int:
    from etl_weather_spark.sql import run_sql

    spark = _spark(args.cpus)
    run_sql(spark, args.sf_dir, args.statement).show(args.limit, truncate=False)
    return 0


def cmd_bench(args: argparse.Namespace) -> int:
    import os

    os.environ.setdefault("SPARK_GRAFT_SF_DIR", args.sf_dir)
    import bench

    bench.main()
    return 0


def cmd_serve(args: argparse.Namespace) -> int:
    from etl_weather_spark.serve import make_server

    spark = _spark(args.cpus)
    srv = make_server(spark, args.sf_dir, port=args.port)
    host, port = srv.server_address
    print(f"serving on http://{host}:{port}  (routes: /health /data/daily "
          f"/data/hourly /summary /query/<name>)")
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        pass
    return 0


def cmd_maintain(args: argparse.Namespace) -> int:
    """Table maintenance over a snapshot table: compact / expire /
    rollback / history — the operational loop a lakehouse needs."""
    import json as _json

    from etl_weather_spark.sources import snapshots as sn

    if args.action == "history":
        for m in sn.snapshot_history(args.table):
            print(_json.dumps(m))
        return 0
    if args.action == "compact":
        spark = _spark(args.cpus)
        v = sn.snapshot_compact(spark, args.table)
        print(f"compacted -> v{v}")
        return 0
    if args.action == "expire":
        gone = sn.expire_snapshots(args.table, keep_last=args.keep_last)
        print(f"expired versions: {gone}")
        return 0
    if args.action == "rollback":
        v = sn.snapshot_rollback(args.table, to_version=args.to_version)
        print(f"rolled back to v{args.to_version} as new v{v}")
        return 0
    raise SystemExit(f"unknown action {args.action}")


def cmd_snapshot_diff(args: argparse.Namespace) -> int:
    """Diff two committed versions of a snapshots.py document table —
    the nightly "what changed since yesterday" report over REAL
    manifest-pointer time travel (defaults: latest vs the one before).
    ``--sketch`` prints the O(16)-byte resemblance estimate instead of
    the exact per-source diff."""
    from etl_weather_spark import queries as q

    spark = _spark(args.cpus)
    fn = (
        q.snapshot_resemblance_between
        if args.sketch
        else q.snapshot_diff_between
    )
    df = fn(spark, args.table, v_a=args.v_a, v_b=args.v_b)
    for line in df.toJSON().collect():
        print(line)
    return 0


def cmd_model(args: argparse.Namespace) -> int:
    """Committed-model registry surface (operators/artifacts.py):

    - ``publish``  — train the quality classifier once for --sf-dir and
      commit trajectory+weights (compute-if-absent: a current committed
      version is a no-op read);
    - ``show``     — print the committed trajectory rows + meta
      (STRICT: refuses a missing or fingerprint-stale model, the audit
      contract);
    - ``history``  — list committed versions (time travel surface).
    """
    import json as _json

    from etl_weather_spark import queries as q
    from etl_weather_spark.operators.artifacts import (
        ArtifactMissingError,
        ArtifactStaleError,
        artifact_meta,
        artifact_table,
        dataset_fingerprint,
        dataset_key,
        read_artifact,
    )
    from etl_weather_spark.sources.snapshots import snapshot_history

    key = dataset_key(args.sf_dir)
    if args.action == "history":
        hist = snapshot_history(artifact_table("quality_classifier", key))
        for h in hist:
            print(_json.dumps(h))
        return 0 if hist else 1
    spark = _spark(args.cpus)
    if args.action == "publish":
        ver_df = q.quality_classifier_publish(spark, args.sf_dir)
        for line in ver_df.toJSON().collect():
            print(line)
        print(_json.dumps(artifact_meta("quality_classifier", key)))
        return 0
    # show — strict read, refuses stale/missing
    fp = dataset_fingerprint(
        args.sf_dir, {**q._QCT_PARAMS, "parity": None}
    )
    try:
        df = read_artifact(
            spark, "quality_classifier", key, expect_fingerprint=fp
        )
    except (ArtifactMissingError, ArtifactStaleError) as e:
        print(f"REFUSED: {e}", file=sys.stderr)
        return 3
    for line in df.orderBy("round").toJSON().collect():
        print(line)
    print(_json.dumps(artifact_meta("quality_classifier", key)))
    return 0


def cmd_artifacts(args: argparse.Namespace) -> int:
    """Registry lifecycle surface (operators/artifacts.py):

    - ``list``            — inventory: every artifact table, current
      version, version count, fingerprints;
    - ``gc``              — release-aware garbage collection: keeps the
      newest --keep-last versions per table PLUS anything pinned by the
      newest --keep-releases releases; drops the rest (bounded registry
      across N rebuild cycles);
    - ``release-show``    — the committed release for --sf-dir: release
      id, corpus data fingerprint, and per-artifact pins (THE release
      id the data card cites);
    - ``release-publish`` — build-then-pin the atomic corpus release
      (classifier trajectory + CC membership + BPE merges as ONE
      catalog version; a half-rebuilt set is refused as mixed);
    - ``release-diff``    — promotion review between two releases
      (--v-a/--v-b; defaults latest vs previous): per artifact, rows
      added/removed/kept between the pinned snapshot versions;
    - ``release-rollback`` — append-only roll back to --to-version:
      a NEW release re-pinning the old set (history intact, readers
      just see the pointer advance).
    """
    import json as _json

    from etl_weather_spark.operators.artifacts import (
        ArtifactMissingError,
        artifacts_gc,
        artifacts_list,
        dataset_key,
        release_meta,
    )

    if args.action == "list":
        for row in artifacts_list():
            print(_json.dumps(row))
        return 0
    if args.action == "gc":
        print(
            _json.dumps(
                artifacts_gc(
                    keep_last=args.keep_last, keep_releases=args.keep_releases
                )
            )
        )
        return 0
    key = dataset_key(args.sf_dir)
    if args.action == "release-show":
        try:
            print(_json.dumps(release_meta(key)))
        except ArtifactMissingError as e:
            print(f"REFUSED: {e}", file=sys.stderr)
            return 3
        return 0
    if args.action == "release-diff":
        from etl_weather_spark.operators.artifacts import release_diff

        spark = _spark(args.cpus)
        try:
            df = release_diff(spark, key, v_a=args.v_a, v_b=args.v_b)
        except (ArtifactMissingError, ValueError) as e:
            print(f"REFUSED: {e}", file=sys.stderr)
            return 3
        for line in df.toJSON().collect():
            print(line)
        return 0
    if args.action == "release-rollback":
        from etl_weather_spark.operators.artifacts import release_rollback

        try:
            v = release_rollback(key, to_version=args.to_version)
        except ArtifactMissingError as e:
            print(f"REFUSED: {e}", file=sys.stderr)
            return 3
        print(_json.dumps({"released": v, **release_meta(key, version=v)}))
        return 0
    # release-publish
    from etl_weather_spark import queries as q

    spark = _spark(args.cpus)
    v = q._ensure_release(spark, args.sf_dir)
    print(_json.dumps({"released": v, **release_meta(key, version=v)}))
    return 0


def cmd_explain(args: argparse.Namespace) -> int:
    """Print the formatted physical plan of a registered query — the
    review surface for pushdown/pruning/broadcast decisions (same
    renderer PLANS.md is generated from), without executing the query.
    """
    from etl_weather_spark import queries as q
    from etl_weather_spark.plans.explain import formatted_plan

    registry = q.queries()
    if args.name not in registry:
        print(f"unknown query {args.name!r}; see QUERIES.md", file=sys.stderr)
        return 2
    spark = _spark(args.cpus)
    print(formatted_plan(registry[args.name](spark, args.sf_dir)))
    return 0


def cmd_datasheet(args: argparse.Namespace) -> int:
    """Dataset card for the document corpus: one markdown page of the
    numbers a consumer checks before training on it — sizes, language
    mix, quality, token budget, exact-dup rate, source mix. Every
    figure is one scan-bounded aggregate over existing operators
    (doc_profile, doc_fingerprint); nothing is collected except the
    card's own rows. Near-dup analysis is opt-in (``--near-dups``)
    because the pair join is real work at scale.
    """
    from pyspark.sql import functions as F

    from etl_weather_spark import queries as q
    from etl_weather_spark.functions.text import doc_fingerprint
    from etl_weather_spark.operators.textops import doc_profile

    spark = _spark(args.cpus)
    docs = q.load(spark, args.sf_dir, "documents")
    prof = doc_profile(docs).withColumn("fp", doc_fingerprint(F.col("text")))

    head = prof.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("n_unique"),
        F.sum("n_tokens").alias("total_tokens"),
        F.avg("n_tokens").alias("avg_tokens"),
        F.avg("quality").alias("avg_quality"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    ).collect()[0]
    langs = prof.groupBy("lang_pred").count().orderBy(F.desc("count")).collect()
    srcs = (
        docs.groupBy("source").count().orderBy(F.desc("count"), "source")
        .limit(10).collect()
    )

    lines = [
        "# Dataset card",
        "",
        f"- source dir: `{args.sf_dir}`",
        f"- documents: **{head.n_docs}** ({head.n_unique} unique bodies; "
        f"exact-dup rate {1 - head.n_unique / max(head.n_docs, 1):.2%})",
        f"- tokens: {head.total_tokens} total, {head.avg_tokens:.1f}/doc",
        f"- quality score: {head.avg_quality:.3f} mean",
        f"- doc length: {head.min_chars}-{head.max_chars} chars",
        "",
        "## Language mix (predicted)",
        "",
        *(f"- {r.lang_pred}: {r['count']}" for r in langs),
        "",
        "## Sources (top 10)",
        "",
        *(f"- {r.source}: {r['count']}" for r in srcs),
    ]
    # the committed RELEASE this corpus's fitted artifacts are pinned
    # to (round 10): the card names the exact release id + corpus
    # fingerprint a consumer should cite — absent (stated) when no
    # release has been published for this corpus
    from etl_weather_spark.operators.artifacts import (
        ArtifactMissingError,
        dataset_key,
        release_meta,
    )

    try:
        rel = release_meta(dataset_key(args.sf_dir))
        lines += [
            "",
            "## Committed artifact release",
            "",
            f"- release: **v{rel['version']}** "
            f"(corpus fingerprint `{str(rel['data_fingerprint'])[:12]}…`)",
            *(
                f"- {name}: pinned snapshot v{pin['version']}"
                for name, pin in sorted(rel["pins"].items())
            ),
        ]
    except ArtifactMissingError:
        lines += [
            "",
            "## Committed artifact release",
            "",
            "- none published for this corpus "
            "(`cli.py artifacts release-publish`)",
        ]
    if args.near_dups:
        from etl_weather_spark.operators.dedup import (
            connected_components,
            ngram_jaccard_pairs,
        )

        pairs = ngram_jaccard_pairs(docs, min_jaccard=0.5)
        cc = connected_components(pairs.select("id_a", "id_b"))
        n_pairs = pairs.count()
        n_clustered = cc.count()
        n_clusters = cc.select("cluster_id").distinct().count()
        lines += [
            "",
            "## Near-duplicates (trigram Jaccard >= 0.5)",
            "",
            f"- pairs: {n_pairs}",
            f"- docs in clusters: {n_clustered} across {n_clusters} clusters",
            f"- removable via keep-one-per-cluster: {n_clustered - n_clusters}",
        ]
    card = "\n".join(lines)
    if args.out:
        with open(args.out, "w") as f:
            f.write(card + "\n")
        print(f"wrote datasheet -> {args.out}")
    else:
        print(card)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="etl-weather-spark")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01", help="table directory")
    p.add_argument("--cpus", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    f = sub.add_parser("fetch", help="land raw weather+air JSON for a city")
    f.add_argument("city")
    f.add_argument("--raw-dir", required=True, dest="raw_dir")
    f.add_argument("--days", type=int, default=7)
    f.add_argument("--timezone", default=None)
    f.add_argument("--offline", action="store_true")
    f.add_argument("--sample-dir", default=None, dest="sample_dir")
    f.add_argument("--no-fallback", action="store_true", dest="no_fallback")
    f.set_defaults(fn=cmd_fetch)

    al = sub.add_parser("all", help="fetch -> transform -> report for one city")
    al.add_argument("city")
    al.add_argument("--raw-dir", required=True, dest="raw_dir")
    al.add_argument("--days", type=int, default=7)
    al.add_argument("--timezone", default=None)
    al.add_argument("--offline", action="store_true")
    al.add_argument("--sample-dir", default=None, dest="sample_dir")
    al.add_argument("--no-fallback", action="store_true", dest="no_fallback")
    al.add_argument("--csv-out", default=None, dest="csv_out")
    al.add_argument("--output", default=None, help="HTML report path")
    al.set_defaults(fn=cmd_all)

    d = sub.add_parser("daily", help="build + write the gold daily table")
    d.add_argument("--out", required=True)
    d.add_argument("--partition", action="store_true", help="partition by date")
    d.set_defaults(fn=cmd_daily)

    r = sub.add_parser("report", help="print period summary + recommendation")
    r.add_argument("--html", default=None, help="write HTML report (charts inline) here")
    r.set_defaults(fn=cmd_report)

    qp = sub.add_parser("query", help="run a registered query by name")
    qp.add_argument("name")
    qp.add_argument("--limit", type=int, default=20)
    qp.set_defaults(fn=cmd_query)

    s = sub.add_parser("sql", help="run ad-hoc SQL over the corpus views")
    s.add_argument("statement")
    s.add_argument("--limit", type=int, default=20)
    s.set_defaults(fn=cmd_sql)

    b = sub.add_parser("bench", help="headline benchmark JSON line")
    b.set_defaults(fn=cmd_bench)

    sv = sub.add_parser("serve", help="stdlib JSON API over the query registry")
    sv.add_argument("--port", type=int, default=8000)
    sv.set_defaults(fn=cmd_serve)

    ex = sub.add_parser("explain", help="print a registered query's physical plan")
    ex.add_argument("name")
    ex.set_defaults(fn=cmd_explain)

    ds = sub.add_parser("datasheet", help="markdown dataset card for the corpus")
    ds.add_argument("--out", default=None, help="write the card here (default stdout)")
    ds.add_argument("--near-dups", action="store_true", dest="near_dups",
                    help="include the (expensive) near-dup cluster section")
    ds.set_defaults(fn=cmd_datasheet)

    m = sub.add_parser("maintain", help="snapshot-table maintenance")
    m.add_argument("action", choices=["history", "compact", "expire", "rollback"])
    m.add_argument("table")
    m.add_argument("--keep-last", type=int, default=2, dest="keep_last")
    m.add_argument("--to-version", type=int, default=0, dest="to_version")
    m.set_defaults(fn=cmd_maintain)

    sd = sub.add_parser(
        "snapshot-diff",
        help="exact content diff (or --sketch resemblance) between two"
        " committed snapshot-table versions",
    )
    sd.add_argument("table")
    sd.add_argument("--v-a", type=int, default=None, dest="v_a")
    sd.add_argument("--v-b", type=int, default=None, dest="v_b")
    sd.add_argument("--sketch", action="store_true")
    sd.set_defaults(fn=cmd_snapshot_diff)

    mo = sub.add_parser(
        "model",
        help="committed-model registry: publish / show (strict) / history",
    )
    mo.add_argument("action", choices=["publish", "show", "history"])
    mo.set_defaults(fn=cmd_model)

    ar = sub.add_parser(
        "artifacts",
        help="registry lifecycle: list / gc (release-aware) /"
        " release-show / release-publish",
    )
    ar.add_argument(
        "action",
        choices=[
            "list", "gc", "release-show", "release-publish", "release-diff",
            "release-rollback",
        ],
    )
    ar.add_argument("--keep-last", type=int, default=2, dest="keep_last")
    ar.add_argument(
        "--keep-releases", type=int, default=2, dest="keep_releases"
    )
    ar.add_argument("--v-a", type=int, default=None, dest="v_a")
    ar.add_argument("--v-b", type=int, default=None, dest="v_b")
    ar.add_argument("--to-version", type=int, default=0, dest="to_version")
    ar.set_defaults(fn=cmd_artifacts)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
