"""spark-submit entry point.

The reference ships a Dataproc driver that uses Spark only as a scheduler and
shells out to its CLI (clouddq/integration/clouddq_pyspark_driver.py:75-104).
Here the driver IS a Spark program:

  spark-submit --py-files cdq_spark.zip -m cloud_data_quality_spark.cli \\
      validate --configs ./configs --rule-binding-ids RB_A,RB_B \\
      --summary-path s3://.../dq_summary --failed-records-path ...

  spark-submit ... quality-filter --input /data/pages --output /data/kept \\
      --lineage /data/lineage --run-id nightly-2026-08-16 --buckets 256

Subcommands:
  validate        run rule bindings → dq_summary (+ failed records)
  quality-filter  resumable web-text filter pipeline (annotate → keep →
                  scrubbed output) with per-partition lineage
  corpus          corpus curation ops: span-dedup | decontaminate | sample |
                  resample | split | incremental-dedup |
                  incremental-minhash-dedup | chunk | c4-clean |
                  paragraph-stats | repetition-stats | dup-ngram-stats |
                  canonicalize-urls | classify | containment | normalize |
                  url-dedup | boilerplate | tfidf | pagerank | profile |
                  dedup-lines | temperature-mix | bm25 | encoding-stats |
                  inverted-index | readability | near-dedup | script-stats |
                  robots-filter
                  (functions/corpus.py, functions/hosts.py,
                  functions/classifier.py, functions/linkgraph.py)
  curate          composed resumable pipeline, every stage optional except
                  quality+dedup: [normalize →] [boilerplate →]
                  [dedup-lines →] [c4-clean →] quality filter →
                  [span-dedup →] [decontaminate →] [host blocklist+cap →]
                  exact dedup → [minhash near-dedup (--keep-best) →]
                  [media-filter →]
                  [stratified sample →] [top-fraction |
                  token-budget selection →] [sequence packing |
                  shard writer] — adjacent partition stages share one
                  resumable unit
                  (engine/pipeline.py)
"""

from __future__ import annotations

import argparse
import json
import sys

# module-level: pandas_udf resolves 'pd.Series' type hints through the
# enclosing function's GLOBALS — a local `import pandas as pd` breaks with
# UNSUPPORTED_SIGNATURE (same trap documented in functions/bpe_artifact.py)
import pandas as pd  # noqa: E402


def _validate(args) -> int:
    from cloud_data_quality_spark.config.loader import load_configs
    from cloud_data_quality_spark.engine.runner import DqEngine
    from cloud_data_quality_spark.sources.session import get_spark

    spark = get_spark(app_name="cdq_validate", master=args.master)
    registry = load_configs(args.configs)
    table_vars = dict(kv.split("=", 1) for kv in (args.table_var or []))
    engine = DqEngine(spark, registry,
                      summary_path=args.summary_path,
                      failed_records_path=args.failed_records_path,
                      table_name_vars=table_vars,
                      environment_target=args.environment_target)
    binding_ids = (args.rule_binding_ids.split(",")
                   if args.rule_binding_ids != "ALL"
                   else sorted(registry.rule_bindings))
    if args.dry_run:
        # reference default behavior (clouddq/main.py:146-151): compile +
        # dry-run everything, execute nothing, fail on bad configs
        for plan in engine.dry_run(binding_ids):
            print(json.dumps(plan, sort_keys=True))
        print(f"-- dry-run OK: {len(binding_ids)} binding(s) compiled, "
              f"nothing executed", file=sys.stderr)
        return 0
    result = engine.run(
        binding_ids,
        incremental=args.incremental,
        write_failed_records=args.failed_records_path is not None,
        write_summary=args.summary_path is not None,
        max_concurrency=args.max_concurrency,
    )
    rows = [r.asDict() for r in result.summary.collect()]
    for row in rows:
        print(json.dumps({k: str(v) for k, v in row.items()}, sort_keys=True))
    failed = [r for r in rows
              if (r["failed_count"] or 0) > 0
              or r["complex_rule_validation_success_flag"] is False]
    print(f"-- {len(rows)} summary rows, {len(failed)} with failures "
          f"(invocation {result.invocation_id})", file=sys.stderr)
    return 1 if (args.fail_on_error and failed) else 0


def _quality_filter(args) -> int:
    from pyspark.sql import functions as F

    from cloud_data_quality_spark.engine.incremental import ResumableQualityRun
    from cloud_data_quality_spark.operators.quality_filter import (
        annotate_quality_arrow,
    )
    from cloud_data_quality_spark.sources.session import get_spark

    spark = get_spark(app_name="cdq_quality_filter", master=args.master)
    df = spark.read.parquet(args.input)
    runner = ResumableQualityRun(
        spark, output_path=args.output, lineage_path=args.lineage,
        n_buckets=args.buckets,
        partitions_per_commit=args.partitions_per_commit)
    if getattr(args, "from_warc", False):
        # crawl-archive mode: each input row is ONE WARC blob (id = url
        # column, e.g. the archive path); explode response records, derive
        # url/text per record, annotate. part_key passes through the
        # explode so the wave lineage stays per input blob.
        from cloud_data_quality_spark.functions.html_extract import (
            extract_text)
        from cloud_data_quality_spark.functions.warc import warc_records

        def transform(d):
            recs = warc_records(
                d, blob_col=args.warc_col, id_col="url",
                types=("response",), passthrough=["part_key"])
            pages = recs.select(
                "part_key",
                F.col("url").alias("warc_source"),
                "record_idx",
                F.col("target_uri").alias("url"),
                F.col("warc_date").alias("warc_fetch_time"),
                extract_text(F.col("payload")).alias("text"))
            return annotate_quality_arrow(pages).where(F.col("keep"))
    elif args.from_html:
        # raw-capture mode: derive text from the html bytes first (JVM-side
        # deterministic extraction — the byte-identical-per-url stage), then
        # annotate the extracted text
        from cloud_data_quality_spark.functions.html_extract import extract_text
        transform = lambda d: (annotate_quality_arrow(  # noqa: E731
            d.withColumn("text", extract_text(F.col("html"))))
            .where(F.col("keep")))
    else:
        transform = lambda d: (annotate_quality_arrow(d)  # noqa: E731
                               .where(F.col("keep")))
    res = runner.run(df, transform, run_id=args.run_id)
    print(json.dumps({
        "run_id": res.run_id,
        "processed_partitions": len(res.processed_partitions),
        "skipped_partitions": len(res.skipped_partitions),
        "rows_in": res.rows_in, "rows_kept": res.rows_kept,
    }))
    return 0


def _parse_fractions(spec: str) -> dict[str, float]:
    """'en=0.5,de=0.2' → {'en': 0.5, 'de': 0.2}"""
    out = {}
    for kv in spec.split(","):
        k, v = kv.split("=", 1)
        out[k.strip()] = float(v)
    return out


def _require_unique_ids(df, id_col: str, op: str) -> None:
    """Ops that key per-doc results on the id (score joins, split
    assignment, cross-doc frequency) silently corrupt on NULL or duplicate
    ids (NULL never equi-joins; dup ids fan out / self-duplicate) — refuse
    loudly instead."""
    from pyspark.sql import functions as F
    # one aggregate; count_distinct skips NULLs, so a NULL id also makes
    # n_ids < n_rows
    n_rows, n_ids = df.agg(F.count(F.lit(1)),
                           F.count_distinct(F.col(id_col))).first()
    if n_ids != n_rows:
        raise SystemExit(
            f"{op}: --id-col {id_col!r} must be unique and non-null "
            f"({n_rows} rows, {n_ids} distinct non-null ids)")


def _near_dedup(df, *, text_col: str, id_col: str,
                jaccard_threshold: float, keep_best: bool):
    """MinHash near-dup removal (`corpus --op near-dedup` and curate's
    near_dedup unit): LSH pairs over the text, then one member per
    cluster — the min id, or with keep_best the longest text."""
    from pyspark.sql import functions as F

    from cloud_data_quality_spark.functions.dedup import (
        dedup_near_duplicates,
        minhash_lsh_pairs,
    )
    pairs = minhash_lsh_pairs(
        df, text_col=text_col, id_col=id_col,
        jaccard_threshold=jaccard_threshold,
        broadcast_verify=True).select("id_a", "id_b")
    if not keep_best:
        return dedup_near_duplicates(df, pairs, id_col=id_col)
    scored = df.withColumn("__len", F.length(F.col(text_col)))
    return dedup_near_duplicates(scored, pairs, id_col=id_col,
                                 score_col="__len").drop("__len")


#: corpus ops that run against a cross-run dedup store (--store)
_STORE_OPS = ("incremental-dedup", "incremental-minhash-dedup",
              "compact-store", "compact-minhash-store")


def _corpus(args) -> int:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from cloud_data_quality_spark.engine.incremental import (
        preserve_observations)
    from cloud_data_quality_spark.functions import corpus as C
    from cloud_data_quality_spark.sources.session import get_spark

    spark = get_spark(app_name="cdq_corpus", master=args.master)
    store = None
    if args.op in _STORE_OPS:
        if not args.store:
            raise SystemExit(f"{args.op} needs --store")
        store = (C.SeenMinhashStore(spark, args.store, n_buckets=args.buckets,
                                    jaccard_threshold=args.jaccard_threshold)
                 if "minhash" in args.op
                 else C.SeenFingerprintStore(spark, args.store,
                                             n_buckets=args.buckets))
    if args.op.startswith("compact-"):
        removed = store.compact()
        print(json.dumps({"op": args.op, "store": args.store,
                          "rows_removed": removed}))
        return 0
    if not args.input or not args.output:
        raise SystemExit(f"{args.op} needs --input and --output")
    obs_in, obs_out, n = Observation(), Observation(), F.count("*").alias("n")
    df = spark.read.parquet(args.input).observe(obs_in, n)

    def write(out):
        out.observe(obs_out, n).write.mode("overwrite").parquet(args.output)

    # no counting pass: rows_in comes from the first job that reads the
    # input (an eager checkpoint inside the op, or the write)
    with preserve_observations(spark):
        _corpus_op(args, spark, df, store, write)
    print(json.dumps({"op": args.op, "rows_in": obs_in.get["n"],
                      "rows_out": obs_out.get["n"], "output": args.output}))
    return 0


def _corpus_op(args, spark, df, store, write) -> None:
    """Run corpus op ``args.op`` over ``df``; its output goes to ``write``."""
    from pyspark.sql import functions as F

    from cloud_data_quality_spark.functions import corpus as C
    if args.op == "span-dedup":
        if (args.delimiter is None) == (args.chunk_words is None):
            raise SystemExit("span-dedup needs exactly one of "
                             "--delimiter / --chunk-words")
        out = C.span_dedup(df, text_col=args.text_col, id_col=args.id_col,
                           delimiter=args.delimiter,
                           chunk_words=args.chunk_words)
    elif args.op == "decontaminate":
        if not args.benchmark:
            raise SystemExit("decontaminate needs --benchmark")
        bench = spark.read.parquet(args.benchmark)
        stats = C.contamination(
            df, bench, text_col=args.text_col, id_col=args.id_col,
            shingle_words=(args.shingle_words
                           if args.shingle_words is not None else 8))
        if args.drop:
            clean = stats.where(~F.col("is_contaminated")).select(args.id_col)
            out = df.join(clean, args.id_col, "left_semi")
        else:
            out = stats
    elif args.op == "split":
        if not args.fractions:
            raise SystemExit(
                "split needs --fractions, e.g. train=0.98,val=0.01,test=0.01")
        _require_unique_ids(df, args.id_col, "split")
        # default salt must differ from the sample/resample default (''):
        # with the SAME salt, sampling keeps exactly the low-hash rows, so
        # a subsequent split would park every survivor in the first split
        out = C.dataset_split(df, _parse_fractions(args.fractions),
                              id_col=args.id_col,
                              salt=args.salt or "split")
    elif args.op == "sample":
        out = C.stratified_sample(df, _parse_fractions(args.fractions),
                                  stratum_col=args.stratum_col,
                                  id_col=args.id_col,
                                  default_fraction=args.default_fraction,
                                  salt=args.salt)
    elif args.op == "resample":
        out = C.importance_resample(df, _parse_fractions(args.fractions),
                                    stratum_col=args.stratum_col,
                                    id_col=args.id_col, salt=args.salt)
    elif args.op == "chunk":
        out = C.chunk_documents(df, budget_tokens=args.budget_tokens,
                                overlap_tokens=args.overlap_tokens,
                                text_col=args.text_col, id_col=args.id_col)
    elif args.op == "c4-clean":
        out = C.c4_clean_stage(df, text_col=args.text_col,
                               id_col=args.id_col)
    elif args.op == "near-dedup":
        out = _near_dedup(df, text_col=args.text_col, id_col=args.id_col,
                          jaccard_threshold=args.jaccard_threshold,
                          keep_best=args.keep_best)
    elif args.op == "script-stats":
        out = C.script_stats(df, text_col=args.text_col,
                             id_col=args.id_col)
    elif args.op == "readability":
        out = C.readability_stats(df, text_col=args.text_col,
                                  id_col=args.id_col)
    elif args.op == "inverted-index":
        out = C.inverted_index(df, text_col=args.text_col,
                               id_col=args.id_col, max_df=args.max_df)
    elif args.op == "encoding-stats":
        out = C.encoding_stats(df, text_col=args.text_col,
                               id_col=args.id_col)
    elif args.op == "dedup-lines":
        out = C.dedup_lines_in_doc(df, text_col=args.text_col,
                                   id_col=args.id_col)
    elif args.op == "temperature-mix":
        out = C.temperature_mix(df, stratum_col=args.stratum_col,
                                alpha=args.alpha, id_col=args.id_col,
                                salt=args.salt)
    elif args.op == "bm25":
        if not args.query:
            raise SystemExit("bm25: pass --query 'term1 term2 ...'")
        out = C.bm25_topk(df, args.query.split(), k=args.top_k,
                          text_col=args.text_col, id_col=args.id_col)
    elif args.op == "paragraph-stats":
        out = C.paragraph_stats(df, text_col=args.text_col,
                                id_col=args.id_col)
    elif args.op == "repetition-stats":
        out = C.repetition_stats(df, text_col=args.text_col,
                                 id_col=args.id_col)
    elif args.op == "dup-ngram-stats":
        _require_unique_ids(df, args.id_col, "dup-ngram-stats")
        n = args.shingle_words if args.shingle_words is not None else 8
        out = C.duplicated_ngram_stats(df, text_col=args.text_col,
                                       id_col=args.id_col, n=n)
    elif args.op == "containment":
        from cloud_data_quality_spark.functions.dedup import containment_pairs
        # containment wants SHORT shingles (quotes are short); don't inherit
        # decontaminate's 8-word default
        n = args.shingle_words if args.shingle_words is not None else 3
        out = containment_pairs(
            df, text_col=args.text_col, id_col=args.id_col, n=n,
            containment_threshold=args.containment_threshold,
            max_shingle_df=args.max_shingle_df)
    elif args.op == "classify":
        from cloud_data_quality_spark.functions.classifier import (
            classifier_scores)
        _require_unique_ids(df, args.id_col, "classify")
        scores = classifier_scores(df, text_col=args.text_col,
                                   id_col=args.id_col)
        if args.drop:
            out = df.join(scores.where("ml_keep").select(args.id_col),
                          args.id_col, "left_semi")
        else:
            out = df.join(scores, args.id_col)
    elif args.op == "canonicalize-urls":
        from cloud_data_quality_spark.functions.hosts import canonicalize_url
        if args.url_col not in df.columns:
            raise SystemExit(
                f"canonicalize-urls: no column {args.url_col!r} in input "
                f"(pass --url-col)")
        out = df.withColumn(args.url_col,
                            canonicalize_url(F.col(args.url_col)))
    elif args.op == "boilerplate":
        from cloud_data_quality_spark.functions.corpus import (
            host_boilerplate_removal)
        if args.url_col not in df.columns:
            raise SystemExit(
                f"boilerplate: no column {args.url_col!r} in input "
                f"(pass --url-col)")
        out = host_boilerplate_removal(
            df, url_col=args.url_col, text_col=args.text_col,
            id_col=args.id_col)
    elif args.op == "normalize":
        from cloud_data_quality_spark.functions.text import normalize_text
        out = df.withColumn(args.text_col,
                            normalize_text(F.col(args.text_col)))
    elif args.op == "robots-filter":
        from cloud_data_quality_spark.functions.robots import (
            robots_filter,
            robots_rules,
        )
        if not args.robots:
            raise SystemExit("robots-filter needs --robots "
                             "(parquet of host, robots_txt)")
        rules = robots_rules(spark.read.parquet(args.robots))
        out = robots_filter(df, rules, url_col=args.url_col or "url")
    elif args.op == "url-dedup":
        from cloud_data_quality_spark.functions.hosts import latest_revision
        for col, flag in ((args.url_col, "--url-col"),
                          (args.ts_col, "--ts-col")):
            if col not in df.columns:
                raise SystemExit(
                    f"url-dedup: no column {col!r} in input (pass {flag})")
        winners = latest_revision(df, url_col=args.url_col,
                                  ts_col=args.ts_col, id_col=args.id_col)
        # full surviving rows, not just the winner tuple
        out = df.join(winners.select(args.id_col), args.id_col, "left_semi")
    elif args.op == "tfidf":
        from cloud_data_quality_spark.functions.corpus import tfidf_top_terms
        out = tfidf_top_terms(df, text_col=args.text_col,
                              id_col=args.id_col, k=args.top_k)
    elif args.op == "pagerank":
        from cloud_data_quality_spark.functions.linkgraph import (
            extract_links,
            host_degrees,
            host_edges,
            host_pagerank,
        )
        for col, flag in ((args.url_col, "--url-col"),
                          (args.html_col, "--html-col")):
            if col not in df.columns:
                raise SystemExit(
                    f"pagerank: no column {col!r} in input (pass {flag})")
        edges = host_edges(
            extract_links(df, html_col=args.html_col, id_col=args.id_col,
                          keep_cols=(args.url_col,)),
            src_url_col=args.url_col)
        out = (host_pagerank(edges, iterations=args.iterations)
               .join(host_degrees(edges), "host"))
    elif args.op == "profile":
        from cloud_data_quality_spark.functions.selection import (
            grouped_percentiles_disc)
        lengths = df.select(F.col(args.group_col),
                            F.length(F.col(args.text_col)).alias("__len"))
        prof = grouped_percentiles_disc(
            lengths, "__len", [args.group_col],
            (("chars_p50", 1, 2), ("chars_p90", 9, 10)))
        counts = lengths.groupBy(args.group_col).agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.sum("__len").alias("char_sum"))
        out = counts.join(prof, args.group_col)
    else:  # incremental-dedup / incremental-minhash-dedup
        # dedup_wave writes the output BEFORE appending fps to the store:
        # a failed output write leaves the store untouched (rerun re-emits)
        # instead of permanently suppressing the wave's documents. A stable
        # --wave-id additionally makes full reruns replay-idempotent.
        store.dedup_wave(df, text_col=args.text_col, id_col=args.id_col,
                         wave_id=args.wave_id, output_writer=write)
        return
    write(out)


def _curate(args) -> int:
    from cloud_data_quality_spark.engine.pipeline import (
        PipelineStage,
        ResumableCurationPipeline,
    )
    from cloud_data_quality_spark.functions.dedup import dedup_exact
    from cloud_data_quality_spark.functions.hosts import (
        cap_per_host,
        drop_blocklisted,
    )
    from cloud_data_quality_spark.operators.quality_filter import (
        annotate_quality_arrow,
    )
    from cloud_data_quality_spark.sources.session import get_spark

    spark = get_spark(app_name="cdq_curate", master=args.master)
    df = spark.read.parquet(args.input)
    # several stages key per-doc results on the id (span-dedup join-back,
    # decontaminate semi-join, selection, packing) and the lineage buckets
    # hash it — a duplicate or NULL id corrupts silently, so refuse up
    # front (one agg over the input; the pipeline scans it many times)
    _require_unique_ids(df, args.id_col, "curate")
    blocklist = [d.strip() for d in args.blocklist.split(",") if d.strip()]

    def c4(d):
        from cloud_data_quality_spark.functions.corpus import c4_clean_stage
        return c4_clean_stage(d, text_col=args.text_col, id_col=args.id_col)

    def deduplines(d):
        from pyspark.sql import functions as F

        from cloud_data_quality_spark.functions.corpus import dedup_lines_col
        # in-place narrow rewrite (no join — the decision never leaves the
        # row); docs whose every line was a repeat of line 1 still keep
        # that first line, so no emptiness filter is needed here
        return d.withColumn(args.text_col,
                            dedup_lines_col(F.col(args.text_col)))

    def quality(d):
        cols = d.columns
        return annotate_quality_arrow(d).where("keep").select(*cols)

    # the host stage needs a real URL column. Defaulting it to --id-col is
    # only safe when ids ARE urls (the documented default); with a non-URL
    # id every row's host parses to '' — one mega-"host" that a per-host
    # cap would silently truncate to max_per_host rows. So: separate
    # --url-col, and rows whose host doesn't parse pass through untouched
    # instead of pooling under ''.
    host_url_col = args.url_col or args.id_col
    if (blocklist or args.max_per_host > 0 or args.url_hygiene
            or args.boilerplate) and host_url_col not in df.columns:
        raise SystemExit(
            f"curate: no column {host_url_col!r} in input for the host "
            f"stage (pass --url-col)")

    if args.media_filter and args.media_col not in df.columns:
        raise SystemExit(
            f"curate: no column {args.media_col!r} in input for "
            f"--media-filter (pass --media-col)")
    if args.drop_noindex and args.html_col_curate not in df.columns:
        raise SystemExit(
            f"curate: no column {args.html_col_curate!r} in input for "
            f"--drop-noindex (pass --html-col-curate)")

    def normalize(d):
        from pyspark.sql import functions as F

        from cloud_data_quality_spark.functions.text import normalize_text
        return d.withColumn(args.text_col,
                            normalize_text(F.col(args.text_col)))

    def boilerplate(d):
        from pyspark.sql import functions as F

        from cloud_data_quality_spark.functions.corpus import (
            host_boilerplate_removal)
        # rewrite text in place (same convention as span_dedup): docs whose
        # every line was host boilerplate reassemble to '' and are dropped
        cleaned = host_boilerplate_removal(
            d, url_col=host_url_col, text_col=args.text_col,
            id_col=args.id_col)
        return (d.drop(args.text_col)
                .join(cleaned.select(
                          args.id_col,
                          F.col("clean_text").alias(args.text_col)),
                      args.id_col, "inner")
                .where(F.length(F.col(args.text_col)) > 0))

    def hosts(d):
        from pyspark.sql import functions as F

        from cloud_data_quality_spark.functions.hosts import url_host
        host = url_host(F.col(host_url_col))
        parseable = d.where(host != "")
        unparseable = d.where(host == "")
        if blocklist:
            parseable = drop_blocklisted(parseable, blocklist,
                                         url_col=host_url_col)
        if args.url_hygiene:
            from cloud_data_quality_spark.functions.hosts import (
                drop_url_patterns)
            parseable = drop_url_patterns(parseable, url_col=host_url_col)
        if args.max_per_host > 0:
            parseable = cap_per_host(parseable, args.max_per_host,
                                     url_col=host_url_col).drop("host")
        return parseable.unionByName(unparseable)

    def dedup(d):
        # dedup_exact, not a hand-rolled fingerprint window: it keeps the
        # min-id representative with the NULL-text sentinel guard (NULL
        # fingerprints would otherwise all share one window partition and
        # silently collapse to a single row)
        return dedup_exact(d, text_col=args.text_col, id_col=args.id_col)

    def dropnoindex(d):
        from pyspark.sql import functions as F

        from cloud_data_quality_spark.functions.html_extract import (
            html_meta)
        # crawl etiquette: pages whose robots meta says noindex asked to
        # be left out of derived datasets — honor it before any content
        # processing. Narrow Column filter, rows with NULL html pass.
        noindex = html_meta(F.col(args.html_col_curate))[0]
        return (d.withColumn("__ni", noindex)
                .where(~F.coalesce(F.col("__ni"), F.lit(False)))
                .drop("__ni"))

    def mediafilter(d):
        from cloud_data_quality_spark.functions.multimodal import (
            media_filter)
        return media_filter(d, blob_col=args.media_col, id_col=args.id_col,
                            min_dim=args.media_min_dim,
                            max_dim=args.media_max_dim)

    def neardedup(d):
        return _near_dedup(d, text_col=args.text_col, id_col=args.id_col,
                           jaccard_threshold=args.near_dedup,
                           keep_best=args.keep_best)

    def select_top(d):
        from pyspark.sql import functions as F

        from cloud_data_quality_spark.functions.corpus import (
            top_fraction_by_score)
        from cloud_data_quality_spark.functions.dedup import eager_checkpoint
        from cloud_data_quality_spark.functions.webtext_rules import (
            perplexity_batch)

        # selection score = NEGATIVE perplexity — a CONTINUOUS ranking
        # (threshold selection over the 5-valued composite quality_score
        # would keep the whole top tie-block, not the requested fraction:
        # most gate-surviving docs share the max composite)
        @F.pandas_udf("double")
        def _neg_ppl(s: pd.Series) -> pd.Series:
            return -perplexity_batch(s)

        # pinned: the threshold pass and the unit's write both read the
        # scores, and each read would otherwise run the Python UDF again
        scored = eager_checkpoint(
            d.withColumn("__q", _neg_ppl(F.col(args.text_col))))
        # approx mode: threshold from one partial-agg pass, no ordering —
        # the only viable shape when the kept set itself is corpus-sized
        return top_fraction_by_score(
            scored, args.top_fraction, "__q", id_col=args.id_col,
            exact=False).drop("__q")

    # convenience: shells deliver $'\n' only with effort — accept the
    # two-character escapes users actually type
    args.span_delimiter = {"\\n": "\n", "\\t": "\t",
                           "\\r\\n": "\r\n"}.get(args.span_delimiter,
                                                 args.span_delimiter)
    if args.span_dedup and set(args.span_delimiter) & set(r".^$*+?{}[]()|\\"):
        # span_dedup SPLITS on the delimiter as a regex but REJOINS it as a
        # literal — a metachar delimiter would corrupt every document
        # (re.escape won't do as the test: it also escapes plain whitespace)
        raise SystemExit(
            f"--span-delimiter must be a literal string without regex "
            f"metacharacters; got {args.span_delimiter!r}")

    def spandedup(d):
        from pyspark.sql import functions as F

        from cloud_data_quality_spark.functions.corpus import span_dedup
        # rewrite text in place; docs that reassemble to '' (every span
        # lost its cross-corpus race) are dropped — they carry no content
        sd = span_dedup(d, text_col=args.text_col, id_col=args.id_col,
                        delimiter=args.span_delimiter)
        return (d.drop(args.text_col)
                .join(sd.select(args.id_col,
                                F.col("text_deduped").alias(args.text_col)),
                      args.id_col, "inner")
                .where(F.length(F.col(args.text_col)) > 0))

    def decontaminate(d):
        from pyspark.sql import functions as F

        from cloud_data_quality_spark.functions.corpus import contamination
        bench = spark.read.parquet(args.decontaminate)
        stats = contamination(d, bench, text_col=args.text_col,
                              id_col=args.id_col)
        clean = stats.where(~F.col("is_contaminated")).select(args.id_col)
        return d.join(clean, args.id_col, "left_semi")

    # parse/validate eagerly: a typo must fail BEFORE hours of upstream
    # stages run, like the --top-fraction / --token-budget checks below
    sample_fractions = (_parse_fractions(args.sample_fractions)
                        if args.sample_fractions else {})
    if sample_fractions and args.stratum_col not in df.columns:
        raise SystemExit(
            f"--sample-fractions needs --stratum-col {args.stratum_col!r} "
            f"in the input (columns: {df.columns})")

    def sample(d):
        from cloud_data_quality_spark.functions.corpus import (
            stratified_sample)
        return stratified_sample(
            d, sample_fractions,
            stratum_col=args.stratum_col, id_col=args.id_col,
            default_fraction=args.default_fraction, salt="curate")

    def pack(d):
        from cloud_data_quality_spark.functions.packing import pack_documents
        # terminal stage: the output is the packing MANIFEST (doc -> pack
        # assignment + token counts), not a corpus rewrite — training-prep
        # joins text back by --id-col (the manifest's id column is renamed
        # to match it)
        out = pack_documents(d, budget=args.pack_budget,
                             id_col=args.id_col, text_col=args.text_col,
                             n_buckets=args.buckets,
                             tokenizer=args.pack_tokenizer)
        if args.id_col != "doc_id":
            out = out.withColumnRenamed("doc_id", args.id_col)
        return out

    def shards(d):
        from pyspark.sql import functions as F

        from cloud_data_quality_spark.functions.corpus import sample_hash
        from cloud_data_quality_spark.functions.selection import (
            global_enumerate)
        from cloud_data_quality_spark.functions.shards import write_shards
        # terminal stage: the curated corpus in a deterministic global
        # order (md5-shuffled by default — the reproducible training
        # order; --shard-order id keeps the natural key order), cut into
        # fixed-document parquet shards + manifest under the run's
        # work dir. Output of the STAGE is the manifest (the commit log a
        # trainer consumes); the shard data lives next to it. Resume is
        # two-level: the pipeline skips the whole stage once committed,
        # and write_shards itself heals half-written shards within a run.
        if args.shard_order == "hash":
            keyed = d.withColumn("__h", sample_hash(args.id_col, "shards"))
            ordered = global_enumerate(keyed, ["__h", args.id_col])
            ordered = ordered.drop("__h")
        else:
            ordered = global_enumerate(d, [args.id_col])
        out_dir = (f"{args.work_dir.rstrip('/')}/{args.run_id}"
                   f"/shards_data")
        return write_shards(ordered, out_dir, args.shard_docs,
                            id_col=args.id_col, text_col=args.text_col)

    def select_budget(d):
        from pyspark.sql import functions as F

        from cloud_data_quality_spark.functions import text as TX
        from cloud_data_quality_spark.functions.classifier import (
            classifier_scores)
        from cloud_data_quality_spark.functions.selection import (
            select_token_budget)

        # budget ranking = the learned classifier score: int64-exact (no
        # float ordering anywhere) and already the "how good is this doc"
        # signal; token cost = word count (swap in bpe_token_count for
        # subword budgets)
        cols = d.columns
        scored = (d.join(classifier_scores(d, text_col=args.text_col,
                                           id_col=args.id_col)
                         .select(args.id_col, "score_micro"), args.id_col)
                  .withColumn("__nt",
                              TX.word_count(F.col(args.text_col))))
        return select_token_budget(
            scored, args.token_budget, score_col="score_micro",
            token_col="__nt", id_col=args.id_col).select(*cols)

    stages = []
    # order: normalization first (every downstream fingerprint/stat sees
    # canonical text), then host-template stripping (boilerplate lines
    # would pollute C4/quality statistics), then the content stages
    if args.drop_noindex:
        # first: honoring robots noindex precedes any content processing
        stages.append(PipelineStage("drop_noindex", dropnoindex,
                                    kind="partition"))
    if args.normalize:
        stages.append(PipelineStage("normalize", normalize,
                                    kind="partition"))
    if args.boilerplate:
        stages.append(PipelineStage("boilerplate", boilerplate,
                                    kind="global"))
    if args.dedup_lines:
        # before c4: line-quality statistics should see each line once
        stages.append(PipelineStage("dedup_lines", deduplines,
                                    kind="partition"))
    if args.c4_clean:
        stages.append(PipelineStage("c4_clean", c4, kind="partition"))
    stages.append(PipelineStage("quality", quality, kind="partition"))
    if args.span_dedup:
        stages.append(PipelineStage("span_dedup", spandedup, kind="global"))
    if args.decontaminate:
        stages.append(PipelineStage("decontaminate", decontaminate,
                                    kind="global"))
    if blocklist or args.max_per_host > 0 or args.url_hygiene:
        stages.append(PipelineStage("hosts", hosts, kind="global"))
    stages.append(PipelineStage("dedup", dedup, kind="global"))
    if args.media_filter:
        # after text dedup: the blob gates + exact-blob dedup curate the
        # BINARY column of a (text, media) corpus — a row whose media
        # fails decode/dimension gates drops, duplicate blobs collapse
        # to the min-id row
        stages.append(PipelineStage("media_filter", mediafilter,
                                    kind="global"))
    if args.near_dedup > 0:
        # after exact dedup: MinHash near-dup removal, keeping min-id or
        # (--keep-best) the longest member of each cluster
        stages.append(PipelineStage("near_dedup", neardedup, kind="global"))
    if args.sample_fractions:
        stages.append(PipelineStage("sample", sample, kind="partition"))
    if not 0 <= args.top_fraction < 1:
        raise SystemExit(
            f"--top-fraction must be in [0, 1) (0 disables selection); "
            f"got {args.top_fraction}")
    if args.token_budget < 0:
        raise SystemExit(
            f"--token-budget must be >= 0 (0 disables budget selection); "
            f"got {args.token_budget}")
    if args.top_fraction > 0 and args.token_budget > 0:
        raise SystemExit(
            "--top-fraction and --token-budget are both final selection "
            "stages; pass at most one")
    if args.top_fraction > 0:
        stages.append(PipelineStage("select_top", select_top, kind="global"))
    if args.token_budget > 0:
        stages.append(PipelineStage("select_budget", select_budget,
                                    kind="global"))
    if args.pack_budget > 0 and args.shard_docs > 0:
        raise SystemExit(
            "--pack-budget and --shard-docs are both terminal stages; "
            "pass at most one")
    if args.pack_budget > 0:
        stages.append(PipelineStage("pack", pack, kind="global"))
    if args.shard_docs > 0:
        stages.append(PipelineStage("shards", shards, kind="global"))

    pipe = ResumableCurationPipeline(
        spark, args.work_dir, n_buckets=args.buckets, id_col=args.id_col,
        partitions_per_commit=args.partitions_per_commit)
    res = pipe.run(df, stages, run_id=args.run_id)
    print(json.dumps({
        "run_id": res.run_id,
        "stages": [{"name": s.name, "kind": s.kind, "resumed": s.resumed,
                    "members": s.members,
                    "rows_in": s.rows_in, "rows_out": s.rows_out,
                    "seconds": s.seconds,
                    "output": s.output_path} for s in res.stages],
        "rows_out": res.rows_out,
    }))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="cloud_data_quality_spark")
    p.add_argument("--master", default=None,
                   help="Spark master (default: env/local)")
    sub = p.add_subparsers(dest="cmd", required=True)

    v = sub.add_parser("validate", help="run rule bindings → dq_summary")
    v.add_argument("--configs", required=True)
    v.add_argument("--rule-binding-ids", default="ALL",
                   help="comma-separated ids or ALL")
    v.add_argument("--summary-path")
    v.add_argument("--failed-records-path")
    v.add_argument("--incremental", action="store_true")
    v.add_argument("--dry-run", action="store_true",
                   help="compile bindings, resolve schemas, analyze rule "
                        "plans; execute nothing (reference default behavior)")
    v.add_argument("--fail-on-error", action="store_true")
    v.add_argument("--table-var", action="append",
                   help="KEY=VALUE substituted into entity table_name")
    v.add_argument("--environment-target", default=None,
                   help="select entities' environment_override mapping")
    v.add_argument("--max-concurrency", type=int, default=1,
                   help="entity groups validated on this many driver "
                        "threads (Spark schedules their jobs concurrently)")

    q = sub.add_parser("quality-filter", help="resumable web-text filter")
    q.add_argument("--input", required=True)
    q.add_argument("--output", required=True)
    q.add_argument("--lineage", required=True)
    q.add_argument("--run-id", required=True)
    q.add_argument("--buckets", type=int, default=64)
    q.add_argument("--from-html", action="store_true",
                   help="derive text from the html column (deterministic "
                        "JVM-side extraction) before quality annotation")
    q.add_argument("--from-warc", action="store_true",
                   help="crawl-archive mode: each input row is one WARC "
                        "blob (id in the url column); explode response "
                        "records, extract text from each payload, "
                        "annotate — the full Common-Crawl ingestion path")
    q.add_argument("--warc-col", default="warc",
                   help="binary column holding the WARC bytes for "
                        "--from-warc")
    q.add_argument("--partitions-per-commit", type=int, default=None,
                   help="buckets per lineage commit; default = all remaining "
                        "in one single-scan wave (extra waves re-scan unless "
                        "the partition expr is aligned with physical layout)")

    c = sub.add_parser("corpus", help="corpus curation operators")
    c.add_argument("--op", required=True,
                   choices=["span-dedup", "decontaminate", "sample",
                            "resample", "incremental-dedup",
                            "incremental-minhash-dedup", "chunk",
                            "c4-clean", "paragraph-stats",
                            "canonicalize-urls", "repetition-stats",
                            "compact-store", "compact-minhash-store",
                            "containment", "classify", "split",
                            "dup-ngram-stats", "normalize", "url-dedup", "boilerplate",
                            "tfidf", "pagerank", "profile",
                            "dedup-lines", "temperature-mix", "bm25",
                            "encoding-stats", "inverted-index", "readability",
                            "near-dedup", "script-stats", "robots-filter"])
    c.add_argument("--input", default=None,
                   help="required for all ops except compact-*")
    c.add_argument("--robots", default=None,
                   help="robots-filter: parquet of (host, robots_txt)")
    c.add_argument("--output", default=None,
                   help="required for all ops except compact-*")
    c.add_argument("--text-col", default="text")
    c.add_argument("--id-col", default="doc_id")
    c.add_argument("--url-col", default="url",
                   help="canonicalize-urls: the URL column to rewrite")
    c.add_argument("--delimiter", default=None,
                   help="span-dedup: split spans on this separator")
    c.add_argument("--chunk-words", type=int, default=None,
                   help="span-dedup: fixed word-count spans")
    c.add_argument("--benchmark", default=None,
                   help="decontaminate: parquet path of the eval corpus")
    c.add_argument("--shingle-words", type=int, default=None,
                   help="shingle width: decontaminate defaults to 8, "
                        "containment to 3 (quotes are short)")
    c.add_argument("--max-shingle-df", type=int, default=1000,
                   help="containment: drop shingles present in more than "
                        "this many docs before the join (skew control; "
                        "ubiquitous shingles carry no signal)")
    c.add_argument("--drop", action="store_true",
                   help="decontaminate: emit the clean corpus rows instead "
                        "of per-doc contamination stats; classify: emit "
                        "only ml_keep rows (input schema) instead of "
                        "annotating every row with score_micro/ml_keep")
    c.add_argument("--fractions", default="",
                   help="sample/resample: 'en=0.5,de=0.2' (sample: keep "
                        "rates; resample: target distribution)")
    c.add_argument("--stratum-col", default="lang")
    c.add_argument("--default-fraction", type=float, default=0.0)
    c.add_argument("--salt", default="",
                   help="decorrelates hash decisions over the same ids; "
                        "sample/resample default '', split defaults to "
                        "'split' so splitting a sampled corpus stays "
                        "uniform")
    c.add_argument("--budget-tokens", type=int, default=2048,
                   help="chunk: tokens per context window")
    c.add_argument("--overlap-tokens", type=int, default=0,
                   help="chunk: overlapping tokens between windows")
    c.add_argument("--containment-threshold", type=float, default=0.8,
                   help="containment: min fraction of inner-doc shingles "
                        "present in the outer doc")
    c.add_argument("--jaccard-threshold", type=float, default=0.5,
                   help="bottom-k Jaccard estimate at/above which a wave "
                        "doc is a near-recrawl (incremental-minhash-dedup)")
    c.add_argument("--wave-id", default=None,
                   help="stable wave tag for incremental-dedup: reruns of "
                        "the same wave exclude their own store fps and "
                        "recompute identically (replay-idempotent)")
    c.add_argument("--store", default=None,
                   help="incremental-dedup: fp-bucketed catalog table name")
    c.add_argument("--buckets", type=int, default=64)
    c.add_argument("--keep-best", action="store_true",
                   help="near-dedup: keep each cluster's LONGEST member "
                        "(min-id tiebreak) instead of the min-id one")
    c.add_argument("--ts-col", default="warc_ts",
                   help="url-dedup: capture-timestamp column (newest wins)")
    c.add_argument("--top-k", type=int, default=5,
                   help="tfidf: terms to keep per document; bm25: result "
                        "count")
    c.add_argument("--alpha", type=float, default=0.5,
                   help="temperature-mix: sampling temperature exponent in "
                        "(0,1]; 0.5 keeps the replay bit-exact (sqrt)")
    c.add_argument("--max-df", type=int, default=1000,
                   help="inverted-index: terms above this document "
                        "frequency keep df but truncate postings (skew "
                        "defense; stopword postings carry no signal)")
    c.add_argument("--query", default="",
                   help="bm25: whitespace-separated query terms")
    c.add_argument("--html-col", default="html",
                   help="pagerank: column holding raw HTML to extract "
                        "hrefs from")
    c.add_argument("--group-col", default="lang",
                   help="profile: grouping column for per-group stats")
    c.add_argument("--iterations", type=int, default=5,
                   help="pagerank: power-iteration rounds")

    cu = sub.add_parser(
        "curate", help="composed resumable pipeline: [normalize →] "
                       "[boilerplate →] [dedup-lines →] [c4-clean →] "
                       "quality filter → "
                       "[span-dedup →] [decontaminate →] [host "
                       "blocklist+cap →] exact dedup → [media-filter →] "
                       "[near-dedup →] [sample →] "
                       "[top-fraction | token-budget →] [pack | shards] "
                       "(staged, per-partition lineage, restart-safe)")
    cu.add_argument("--input", required=True)
    cu.add_argument("--work-dir", required=True,
                    help="stage outputs + shared lineage live here; rerun "
                         "with the same --run-id to resume")
    cu.add_argument("--run-id", required=True)
    cu.add_argument("--buckets", type=int, default=64)
    cu.add_argument("--id-col", default="url")
    cu.add_argument("--url-col", default=None,
                    help="URL column for the host blocklist/cap stage "
                         "(default: --id-col, for corpora whose id IS the "
                         "url); rows whose host doesn't parse pass through "
                         "the host stage untouched")
    cu.add_argument("--text-col", default="text")
    cu.add_argument("--url-hygiene", action="store_true",
                    help="drop URLs matching the crawl-hygiene path "
                         "patterns (search/tag/feed/pagination/auth)")
    cu.add_argument("--blocklist", default="",
                    help="comma-separated blocked domains (suffix match)")
    cu.add_argument("--max-per-host", type=int, default=0,
                    help="cap docs per URL host (0 = no cap)")
    cu.add_argument("--top-fraction", type=float, default=0.0,
                    help="after dedup, keep only the best fraction of docs "
                         "by (negative) perplexity — a continuous score, so "
                         "the approx threshold actually selects the "
                         "requested fraction (0 = keep all)")
    cu.add_argument("--token-budget", type=int, default=0,
                    help="after dedup, keep the best documents by learned-"
                         "classifier score until this many (word) tokens "
                         "are selected (0 = disabled; mutually exclusive "
                         "with --top-fraction)")
    cu.add_argument("--normalize", action="store_true",
                    help="prepend text normalization (zero-width/control "
                         "stripping, quote/dash mapping, whitespace "
                         "collapse — no Unicode NFC) so every downstream "
                         "fingerprint sees canonical text")
    cu.add_argument("--boilerplate", action="store_true",
                    help="before content stages: per-host boilerplate line "
                         "removal (site-template stripping); uses "
                         "--url-col, docs reassembling to '' dropped")
    cu.add_argument("--dedup-lines", action="store_true",
                    help="before c4-clean: intra-document repeated-line "
                         "removal (scraper stutter / nav strips), narrow "
                         "per-row rewrite")
    cu.add_argument("--c4-clean", action="store_true",
                    help="prepend C4 §2.2 line-level cleaning (terminal-"
                         "punctuation lines, ≥5 words, no javascript; "
                         "drop '{'/'lorem ipsum' docs)")
    cu.add_argument("--span-dedup", action="store_true",
                    help="after quality: cross-document span dedup (C4 "
                         "§2.2 duplicated-span removal); text rewritten in "
                         "place, docs reassembling to '' dropped")
    cu.add_argument("--span-delimiter", default="\n",
                    help="span boundary for --span-dedup (default newline)")
    cu.add_argument("--decontaminate", default=None, metavar="PARQUET",
                    help="drop documents sharing 8-word shingles with this "
                         "benchmark/eval parquet (broadcast semi-join)")
    cu.add_argument("--near-dedup", type=float, default=0.0,
                    metavar="JACCARD",
                    help="after exact dedup: MinHash near-dup removal at "
                         "this Jaccard threshold (0 = disabled)")
    cu.add_argument("--keep-best", action="store_true",
                    help="near-dedup: keep each cluster's LONGEST member "
                         "(min-id tiebreak) instead of the min-id one")
    cu.add_argument("--sample-fractions", default="",
                    help="after dedup: deterministic stratified sampling, "
                         "e.g. en=0.5,de=0.2 over --stratum-col")
    cu.add_argument("--stratum-col", default="lang")
    cu.add_argument("--default-fraction", type=float, default=0.0)
    cu.add_argument("--pack-budget", type=int, default=0,
                    help="terminal stage: greedy sequence packing to this "
                         "token budget; output is the packing manifest "
                         "(doc -> pack assignment), 0 = disabled")
    cu.add_argument("--pack-tokenizer", default="words",
                    choices=["words", "bpe", "bpe_large", "bpe_8k"])
    cu.add_argument("--shard-docs", type=int, default=0,
                    help="terminal stage (exclusive with --pack-budget): "
                         "write the curated corpus as order-preserving "
                         "parquet shards of this many documents + a "
                         "manifest (row span, count, bytes, checksum) "
                         "under the run's work dir; stage output is the "
                         "manifest")
    cu.add_argument("--shard-order", default="hash",
                    choices=["hash", "id"],
                    help="global order for --shard-docs: 'hash' = "
                         "deterministic md5 shuffle (the reproducible "
                         "training order), 'id' = natural key order")
    cu.add_argument("--partitions-per-commit", type=int, default=None)
    cu.add_argument("--drop-noindex", action="store_true",
                    help="first stage: drop pages whose <meta name=robots> "
                         "declares noindex (crawl etiquette — those pages "
                         "asked to be left out of derived datasets); "
                         "needs the raw html column")
    cu.add_argument("--html-col-curate", default="html",
                    help="binary html column for --drop-noindex")
    cu.add_argument("--media-filter", action="store_true",
                    help="after exact dedup: curate the binary media "
                         "column — drop rows whose blob is undecodable "
                         "(no PNG/GIF/JPEG header) or outside the "
                         "dimension bounds, and collapse exact duplicate "
                         "blobs (sha256) to the min-id row; rows with a "
                         "NULL blob pass through")
    cu.add_argument("--media-col", default="media",
                    help="binary column for --media-filter")
    cu.add_argument("--media-min-dim", type=int, default=32)
    cu.add_argument("--media-max-dim", type=int, default=8192)

    args = p.parse_args(argv)
    args.master = getattr(args, "master", None)
    return {"validate": _validate, "quality-filter": _quality_filter,
            "corpus": _corpus, "curate": _curate}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
