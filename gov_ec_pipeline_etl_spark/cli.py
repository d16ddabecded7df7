"""Engine CLI (reference O6 analog — etl/get_status.py:65-103 state ops,
plus run/bench entry points).

    python -m gov_ec_pipeline_etl_spark.cli state show  <state.json>
    python -m gov_ec_pipeline_etl_spark.cli state seed  <state.json> <catalog.json>
    python -m gov_ec_pipeline_etl_spark.cli state diff  <state.json> <catalog.json>
    python -m gov_ec_pipeline_etl_spark.cli run <config.yaml> <catalog.json> <work_dir>
    python -m gov_ec_pipeline_etl_spark.cli oracle [sf_dir] [names...]
    python -m gov_ec_pipeline_etl_spark.cli index build   <index_dir> <docs.parquet>
    python -m gov_ec_pipeline_etl_spark.cli index probe   <index_dir> <docs.parquet>
    python -m gov_ec_pipeline_etl_spark.cli index ingest  <index_dir> <docs.parquet>
    python -m gov_ec_pipeline_etl_spark.cli index pairs   <index_dir>
    python -m gov_ec_pipeline_etl_spark.cli index compact <index_dir>
    python -m gov_ec_pipeline_etl_spark.cli index stats   <index_dir>
"""

from __future__ import annotations

import argparse
import json
import sys


def _load_catalog(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as f:
        data = json.load(f)
    return data["resources"] if isinstance(data, dict) else data


def _index_cmd(args) -> int:
    """Stored-index lifecycle dispatch: three index kinds, one contract
    (build → probe/ingest → compact → stats), each self-describing via
    its ``_meta.json`` so only ``build`` ever needs ``--kind``."""
    import pyspark.sql.functions as F

    from gov_ec_pipeline_etl_spark.caching import released
    from gov_ec_pipeline_etl_spark.operators import dedup_fuzzy as dd
    from gov_ec_pipeline_etl_spark.operators import similarity as sim
    from gov_ec_pipeline_etl_spark.session import get_spark
    from gov_ec_pipeline_etl_spark.sinks import snapshot

    spark = get_spark("gov-ec-pipeline-etl-index")
    if args.action == "build":
        kind = args.kind or "ngram"
        args.id_col = args.id_col or (
            "vec_id" if kind in ("ivf", "ivfpq") else "doc_id"
        )
        docs = spark.read.parquet(args.docs)
        if kind == "ngram":
            dd.write_ngram_index(
                docs, args.id_col, args.text_col, args.index_path,
                k=args.k, max_df=args.max_df, hash_dirs=args.hash_dirs,
            )
        elif kind == "minhash":
            dd.build_sketch_index(
                docs, args.id_col, args.text_col, args.index_path, k=args.k
            )
        elif kind == "ivf":
            sim.build_ivf(
                docs, args.index_path, args.k_centroids, args.id_col, args.vec_col
            )
        else:
            sim.build_ivfpq(
                docs, args.index_path, args.k_centroids,
                args.pq_m, args.pq_codes, args.id_col, args.vec_col,
            )
        meta = dd.read_index_meta(args.index_path)
        print(json.dumps({"built": args.index_path, **meta}))
        return 0

    meta = dd.read_index_meta(args.index_path)
    kind = meta.get("kind", "ngram")
    args.id_col = args.id_col or (
        "vec_id" if kind in ("ivf", "ivfpq") else "doc_id"
    )

    if args.action == "stats":
        if kind == "ngram":
            idx = dd.read_ngram_index(spark, args.index_path)
            ids = "id"
        elif kind == "minhash":
            idx = dd.read_sketch_index(spark, args.index_path)
            ids = "id"
        else:  # ivf / ivfpq share the centroid-partitioned layout
            idx = snapshot.read(spark, args.index_path + "/data")
            ids = "vec_id"
        print(json.dumps({
            **meta,
            "rows": idx.count(),
            "docs": idx.select(ids).distinct().count(),
            "files": len(idx.inputFiles()),
        }))
        return 0

    if args.action == "compact":
        print(json.dumps(
            dd.compact_index(spark, args.index_path, args.files_per_partition)
        ))
        return 0

    if args.action == "ingest":
        docs = spark.read.parquet(args.docs)
        if kind == "ngram":
            n = dd.append_to_ngram_index(
                docs, spark, args.index_path, args.id_col, args.text_col
            )
        elif kind == "minhash":
            n = dd.append_to_sketch_index(
                docs, spark, args.index_path, args.id_col, args.text_col
            )
        elif kind == "ivf":
            n = sim.append_to_ivf(
                docs, spark, args.index_path, args.id_col, args.vec_col
            )
        else:
            n = sim.append_to_ivfpq(
                docs, spark, args.index_path, args.id_col, args.vec_col
            )
        print(json.dumps({"appended_rows": n}))
        return 0

    # probe / pairs
    if args.action == "probe":
        docs = spark.read.parquet(args.docs)
        if kind == "ngram":
            out = dd.ngram_incremental_against_index(
                docs, spark, args.index_path, args.id_col, args.text_col,
                k=meta["k"], threshold=args.threshold, portable=meta["portable"],
            )
        elif kind == "minhash":
            out = dd.incremental_neardup_against(
                docs, dd.read_sketch_index(spark, args.index_path),
                args.id_col, args.text_col,
                k=meta["k"], threshold=args.threshold,
                portable=meta["portable"],
            )
        elif kind == "ivf":
            out = sim.ivf_topk(
                spark, args.index_path, docs,
                nprobe=args.nprobe, k=args.topk,
                id_col=args.id_col, vec_col=args.vec_col,
            )
        else:
            out = sim.ivfpq_topk_stored(
                spark, args.index_path, docs,
                nprobe=args.nprobe, k=args.topk,
                id_col=args.id_col, vec_col=args.vec_col,
            )
    else:  # pairs
        if kind == "ngram":
            out = dd.ngram_pairs_from_index(spark, args.index_path, args.threshold)
        elif kind == "minhash":
            sk = dd.read_sketch_index(spark, args.index_path)
            b = dd.minhash_band_keys(sk)
            cand = (
                b.withColumnsRenamed({"id": "id_a"})
                .join(
                    b.withColumnsRenamed({"id": "id_b"}), ["band_idx", "band_key"]
                )
                .where(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b")
                .dropDuplicates(["id_a", "id_b"])
            )
            out = dd.jaccard_verify(cand, sk, args.threshold, on="h60")
        else:
            print(
                f"index pairs is not defined for kind={kind} (use probe)",
                file=sys.stderr,
            )
            return 2
    with released(out) as df:
        rows = df.limit(args.limit).collect()
        total = df.count()
    for r in rows:
        print(json.dumps(r.asDict(), default=str))
    print(json.dumps({"total_rows": total, "printed": len(rows)}))
    return 0


def _ivm_cmd(args) -> int:
    """Incremental-aggregate store lifecycle (operators/ivm.py — the
    operable form of u56's additive-IVM identity)."""
    from gov_ec_pipeline_etl_spark.operators import ivm
    from gov_ec_pipeline_etl_spark.session import get_spark

    if args.action in ("init", "apply", "verify") and not args.data:
        print(
            f"ivm {args.action} requires a data path (parquet to "
            f"{'seed from' if args.action == 'init' else 'apply/check'})",
            file=sys.stderr,
        )
        return 2
    spark = get_spark("gov-ec-pipeline-etl-ivm")
    keys = [k for k in args.keys.split(",") if k]
    sums = dict(kv.split("=", 1) for kv in args.sums.split(",") if kv)
    if args.action == "init":
        meta = ivm.init_store(
            spark, spark.read.parquet(args.data), args.store, keys, sums
        )
        print(json.dumps({"initialized": args.store, **meta}))
        return 0
    if args.action == "apply":
        if not args.batch_id:
            print("ivm apply requires --batch-id", file=sys.stderr)
            return 2
        meta = ivm.apply_delta(
            spark, spark.read.parquet(args.data), args.store, args.batch_id
        )
        print(json.dumps(meta))
        return 0
    if args.action == "verify":
        res = ivm.verify_store(
            spark, spark.read.parquet(args.data), args.store
        )
        print(json.dumps(res))
        return 0 if res["ok"] else 1
    for r in ivm.read_store(spark, args.store).collect():  # show
        print(json.dumps(r.asDict(), default=str))
    return 0


def _bpe_cmd(args) -> int:
    """Tokenizer merge-table lifecycle: ``learn`` runs the distributed
    merge learner and stores the ordered merge table; ``apply`` segments
    another corpus's vocabulary with the stored merges (catalog-scale
    literals, read back once) and prints the top word types + overall
    fertility."""
    import pyspark.sql.functions as F

    from gov_ec_pipeline_etl_spark.caching import released, stage
    from gov_ec_pipeline_etl_spark.operators.bpe import apply_bpe, bpe_merges
    from gov_ec_pipeline_etl_spark.session import get_spark

    spark = get_spark("gov-ec-pipeline-etl-bpe")
    if args.action == "learn":
        docs = spark.read.parquet(args.docs)
        with released(
            bpe_merges(docs, args.text_col, steps=args.steps)
        ) as m:
            m.orderBy("step").coalesce(1).write.mode("overwrite").parquet(
                args.merges
            )
        rows = [
            r.asDict()
            for r in spark.read.parquet(args.merges).orderBy("step").collect()
        ]
        print(json.dumps({"written": args.merges, "merges": rows}, default=str))
        return 0

    # apply: the merge table is catalog-scale (one row per learned merge)
    merges = [
        (r["merge_left"], r["merge_right"])
        for r in spark.read.parquet(args.merges).orderBy("step").collect()
    ]
    docs = spark.read.parquet(args.docs)
    norm = F.regexp_replace(
        F.lower(F.trim(F.col(args.text_col))), r"\s+", " "
    )
    vocab = (
        docs.select(F.explode(F.split(norm, " ")).alias("w"))
        .where(F.col("w").rlike("^[a-z0-9]+$"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    seg = vocab.select("w", "cnt", apply_bpe("w", merges).alias("syms"))
    with released(stage(seg)) as seg:
        head = seg.orderBy(F.desc("cnt"), "w").limit(args.limit).collect()
        stats = seg.agg(
            (F.sum(F.size("syms") * F.col("cnt")) / F.sum("cnt")).alias("f"),
            F.count("*").alias("types"),
        ).collect()[0]
    for r in head:
        print(json.dumps(r.asDict(), default=str))
    print(
        json.dumps(
            {"fertility": round(stats["f"], 6), "word_types": stats["types"]}
        )
    )
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="gov_ec_pipeline_etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    ps = sub.add_parser("state", help="incremental-state operations")
    ps.add_argument("action", choices=["show", "seed", "diff"])
    ps.add_argument("state_path")
    ps.add_argument("catalog", nargs="?")

    pr = sub.add_parser("run", help="end-to-end ETL run")
    pr.add_argument("config")
    pr.add_argument("catalog")
    pr.add_argument("work_dir")

    po = sub.add_parser("oracle", help="DuckDB parity gate")
    po.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    po.add_argument("names", nargs="*")

    # stored n-gram index lifecycle: build -> probe/ingest -> compact.
    # The operators existed as query-level APIs; this makes them
    # operable (r4 VERDICT #5).
    pi = sub.add_parser(
        "index", help="stored index lifecycle (n-gram / minhash / ivf / ivfpq)"
    )
    pi.add_argument(
        "action", choices=["build", "probe", "ingest", "pairs", "compact", "stats"]
    )
    pi.add_argument("index_path")
    pi.add_argument("docs", nargs="?", help="input parquet (build/probe/ingest)")
    pi.add_argument(
        "--kind", choices=["ngram", "minhash", "ivf", "ivfpq"], default=None,
        help="index kind (build only; later actions read it from _meta.json)",
    )
    pi.add_argument(
        "--id-col", default=None,
        help="defaults to doc_id (ngram/minhash) or vec_id (ivf/ivfpq)",
    )
    pi.add_argument("--text-col", default="text")
    pi.add_argument("--vec-col", default="embedding")
    pi.add_argument("-k", type=int, default=3)
    pi.add_argument("--max-df", type=int, default=50)
    pi.add_argument("--hash-dirs", type=int, default=16)
    pi.add_argument("--k-centroids", type=int, default=8)
    pi.add_argument("--pq-m", type=int, default=8)
    pi.add_argument("--pq-codes", type=int, default=4)
    pi.add_argument("--nprobe", type=int, default=2)
    pi.add_argument("--topk", type=int, default=5)
    pi.add_argument("--threshold", type=float, default=0.5)
    pi.add_argument("--files-per-partition", type=int, default=1)
    pi.add_argument("--limit", type=int, default=20, help="rows printed (probe/pairs)")

    # tokenizer merge-table lifecycle: learn writes a stored merge
    # table; apply segments any corpus with it (same operability
    # contract as the stored indexes).
    pb = sub.add_parser(
        "bpe", help="BPE merge-table lifecycle (learn / apply)"
    )
    pb.add_argument("action", choices=["learn", "apply"])
    pb.add_argument("docs", help="input parquet with a text column")
    pb.add_argument("merges", help="merge-table parquet path")
    pb.add_argument("--steps", type=int, default=8, help="merges to learn")
    pb.add_argument("--text-col", default="text")
    pb.add_argument("--limit", type=int, default=10, help="rows printed (apply)")

    pv = sub.add_parser(
        "ivm",
        help="incremental aggregate store: init from a base, apply "
        "deltas idempotently by batch id, verify against a recompute",
    )
    pv.add_argument("action", choices=["init", "apply", "verify", "show"])
    pv.add_argument("store")
    pv.add_argument("data", nargs="?", help="input parquet (init/apply/verify)")
    pv.add_argument(
        "--keys", default="l_returnflag,l_linestatus",
        help="comma-separated group columns",
    )
    pv.add_argument(
        "--sums", default="sum_qty=l_quantity",
        help="comma-separated name=source sum measures (bigint-cast)",
    )
    pv.add_argument("--batch-id", default=None, help="delta ledger id (apply)")

    pc = sub.add_parser(
        "curate",
        help="run the full curation funnel over a corpus dir, write "
        "per-document dispositions + print a JSON summary",
    )
    pc.add_argument("sf_dir", help="directory holding documents.parquet")
    pc.add_argument("out", help="output parquet path (id, source, disposition)")

    psb = sub.add_parser(
        "scrub",
        help="PII-scrub a corpus parquet (detect + redact emails / "
        "phones / IPv4s), write the redacted corpus + print a JSON "
        "summary",
    )
    psb.add_argument("docs", help="input parquet with id + text columns")
    psb.add_argument("out", help="output parquet (id, counts, redacted text)")
    psb.add_argument("--id-col", default="doc_id")
    psb.add_argument("--text-col", default="text")

    pdd = sub.add_parser(
        "dedup",
        help="exact substring dedup (suffix-array family): 'runs' "
        "writes maximal cross-document duplicated runs >= --min-len "
        "tokens; 'cut' writes the keep-earliest per-document removal "
        "accounting",
    )
    pdd.add_argument("action", choices=["runs", "cut"])
    pdd.add_argument("docs", help="input parquet with id + text columns")
    pdd.add_argument("out", help="output parquet path")
    pdd.add_argument("--id-col", default="doc_id")
    pdd.add_argument("--text-col", default="text")
    pdd.add_argument("--k", type=int, default=5, help="anchor length (tokens)")
    pdd.add_argument(
        "--min-len", type=int, default=20,
        help="minimum duplicated-run length in tokens",
    )
    pdd.add_argument(
        "--max-occ", type=int, default=64,
        help="anchor occurrence cap (bounds join fan-out by max_occ^2)",
    )

    pt = sub.add_parser(
        "table",
        help="merged-table snapshot operations: history (on-disk "
        "snapshot inventory) and changes (CDC diff of the last merge: "
        "inserted / deleted / changed keys)",
    )
    pt.add_argument("action", choices=["history", "changes", "delete", "retain"])
    pt.add_argument("target", help="upsert target directory")
    pt.add_argument("--key", default="surrogate_id")
    pt.add_argument(
        "--out", default=None,
        help="changes: also write the (key, change_type) rows as parquet",
    )
    pt.add_argument(
        "--keys", default=None,
        help="delete: parquet holding the key column to delete",
    )
    pt.add_argument(
        "--partition-by", default=None,
        help="delete/retain: comma-separated partition columns",
    )
    pt.add_argument(
        "--keep", default=None,
        help="retain: SQL predicate over partition columns; partitions "
        "failing it are dropped as metadata (no data rewrite)",
    )

    # reference get_status {object|compose}: pull any object over HTTP
    # with the retrying session and an atomic tmp-write (get_status.py:
    # 39-60 — download_object + tmp + rename)
    pl = sub.add_parser("pull", help="download an object (retry + atomic write)")
    pl.add_argument("url")
    pl.add_argument("dest")

    args = p.parse_args(argv)

    if args.cmd == "state":
        from gov_ec_pipeline_etl_spark.sources.state import (
            ResourceState,
            diff_resources,
            load_state,
            save_state,
            seed_state,
        )

        if args.action == "show":
            st = load_state(args.state_path)
            print(
                json.dumps(
                    {"resources": st.resources if st else None, "stateless": st is None},
                    indent=2,
                    sort_keys=True,
                )
            )
            return 0
        catalog = _load_catalog(args.catalog)
        if args.action == "seed":
            save_state(seed_state(catalog), args.state_path)
            print(f"seeded {len(catalog)} resources → {args.state_path}")
            return 0
        st = load_state(args.state_path) or ResourceState.empty()
        todo, unchanged, reasons = diff_resources(catalog, st)
        print(
            json.dumps(
                {
                    "to_process": [r["id"] for r in todo],
                    "unchanged": [r["id"] for r in unchanged],
                    "reasons": reasons,
                },
                indent=2,
                sort_keys=True,
            )
        )
        return 0

    if args.cmd == "pull":
        from gov_ec_pipeline_etl_spark.sinks.snapshot import replacing
        from gov_ec_pipeline_etl_spark.sources.catalog import download_resource

        # atomic promote, never a torn file; a failed pull leaves no
        # partial beside the destination
        with replacing(args.dest) as tmp:
            n = download_resource(args.url, tmp)
        print(json.dumps({"dest": args.dest, "bytes": n}))
        return 0

    if args.cmd == "run":
        from gov_ec_pipeline_etl_spark.etl_pipeline import run_etl
        from gov_ec_pipeline_etl_spark.session import get_spark

        spark = get_spark("gov-ec-pipeline-etl-run")
        result = run_etl(spark, args.config, _load_catalog(args.catalog), args.work_dir)
        print(
            json.dumps(
                {
                    "run_id": result.run_id,
                    "status": result.status,
                    "skipped_unchanged": result.skipped_unchanged,
                    "reports": result.reports,
                    "upsert": result.upsert_metrics,
                },
                indent=2,
                sort_keys=True,
                default=str,
            )
        )
        return 0 if result.status == "ok" else 1

    if args.cmd == "index":
        return _index_cmd(args)

    if args.cmd == "bpe":
        return _bpe_cmd(args)

    if args.cmd == "ivm":
        return _ivm_cmd(args)

    if args.cmd == "scrub":
        import pyspark.sql.functions as F

        from gov_ec_pipeline_etl_spark.operators.hygiene import pii_scrub
        from gov_ec_pipeline_etl_spark.session import get_spark

        spark = get_spark("gov-ec-pipeline-etl-scrub")
        df = spark.read.parquet(args.docs)
        pii_scrub(df, args.id_col, args.text_col, emit_text=True).write.mode(
            "overwrite"
        ).parquet(args.out)
        # summarize from the written output so the numbers describe
        # what actually landed on disk
        row = (
            spark.read.parquet(args.out)
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(
                    (
                        (F.col("n_email") + F.col("n_phone") + F.col("n_ip"))
                        > 0
                    ).cast("int")
                ).alias("docs_with_pii"),
                F.sum("n_email").alias("emails"),
                F.sum("n_phone").alias("phones"),
                F.sum("n_ip").alias("ips"),
            )
            .collect()[0]
        )
        print(json.dumps({"out": args.out, **row.asDict()}, sort_keys=True))
        return 0

    if args.cmd == "dedup":
        if args.k < 1 or args.min_len < 1 or args.max_occ < 2:
            print(
                "dedup: --k and --min-len must be >= 1, --max-occ >= 2",
                file=sys.stderr,
            )
            return 2
        import pyspark.sql.functions as F

        from gov_ec_pipeline_etl_spark.caching import unpersist_inputs
        from gov_ec_pipeline_etl_spark.operators.dedup_fuzzy import (
            substring_dedup_cut,
            substring_runs,
        )
        from gov_ec_pipeline_etl_spark.session import get_spark

        spark = get_spark("gov-ec-pipeline-etl-dedup")
        df = spark.read.parquet(args.docs)
        op = substring_runs if args.action == "runs" else substring_dedup_cut
        out_df = op(
            df, args.id_col, args.text_col,
            k=args.k, min_len=args.min_len, max_occ=args.max_occ,
        )
        out_df.write.mode("overwrite").parquet(args.out)
        unpersist_inputs(out_df)
        written = spark.read.parquet(args.out)
        if args.action == "runs":
            row = written.agg(
                F.count(F.lit(1)).alias("n_runs"),
                F.max("run_tokens").alias("max_run_tokens"),
                F.sum("run_tokens").alias("dup_tokens"),
            ).collect()[0]
        else:
            row = written.agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").alias("corpus_tokens"),
                F.sum("removed_tokens").alias("removed_tokens"),
                F.sum("kept_tokens").alias("kept_tokens"),
            ).collect()[0]
        summary = {k: (0 if v is None else v) for k, v in row.asDict().items()}
        print(json.dumps({"out": args.out, **summary}, sort_keys=True))
        return 0

    if args.cmd == "curate":
        from gov_ec_pipeline_etl_spark.caching import unpersist_inputs
        from gov_ec_pipeline_etl_spark.plans.training_queries import (
            u35_curation_funnel,
        )
        from gov_ec_pipeline_etl_spark.session import get_spark

        spark = get_spark("gov-ec-pipeline-etl-curate")
        out_df = u35_curation_funnel(spark, args.sf_dir)
        out_df.write.mode("overwrite").parquet(args.out)
        unpersist_inputs(out_df)
        counts = {
            r["disposition"]: r["count"]
            for r in spark.read.parquet(args.out)
            .groupBy("disposition")
            .count()
            .collect()
        }
        total = sum(counts.values())
        kept = sum(
            v for k, v in counts.items() if k in ("train", "val", "test")
        )
        print(
            json.dumps(
                {
                    "out": args.out,
                    "total": total,
                    "kept": kept,
                    "dispositions": counts,
                },
                indent=2,
                sort_keys=True,
            )
        )
        return 0

    if args.cmd == "table":
        import pyspark.sql.functions as F

        from gov_ec_pipeline_etl_spark.session import get_spark
        from gov_ec_pipeline_etl_spark.sinks.upsert import (
            delete_keys,
            drop_partitions,
            snapshot_changes,
            snapshot_history,
        )

        if args.action == "history":
            print(json.dumps(snapshot_history(args.target)))
            return 0
        if args.action == "retain":
            if not (args.keep and args.partition_by):
                print(
                    "table retain requires --keep and --partition-by",
                    file=sys.stderr,
                )
                return 2
            spark = get_spark("table-retain")
            m = drop_partitions(
                spark, args.target, args.partition_by.split(","), args.keep
            )
            print(json.dumps(m))
            return 0
        if args.action == "delete":
            if not args.keys:
                print("table delete requires --keys", file=sys.stderr)
                return 2
            spark = get_spark("table-delete")
            parts = args.partition_by.split(",") if args.partition_by else None
            m = delete_keys(
                spark, spark.read.parquet(args.keys), args.target,
                key=args.key, partition_by=parts,
            )
            print(json.dumps(m))
            return 0
        spark = get_spark("table-changes")
        ch = snapshot_changes(spark, args.target, key=args.key)
        if args.out:
            ch.write.mode("overwrite").parquet(args.out)
            ch = spark.read.parquet(args.out)  # count the written rows
        counts = {
            r["change_type"]: r["n"]
            for r in ch.groupBy("change_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        print(
            json.dumps(
                {t: int(counts.get(t, 0)) for t in ("inserted", "changed", "deleted")}
            )
        )
        return 0

    if args.cmd == "oracle":
        from gov_ec_pipeline_etl_spark.oracle import run_all

        failed = 0
        for name, status in run_all(args.sf_dir, args.names or None).items():
            print(f"{name}: {status}")
            if not (status.startswith("OK") or status.startswith("rows-only")):
                failed += 1
        return 1 if failed else 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
