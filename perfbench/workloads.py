"""The benchmark's workloads: what one execution runs, how its output is
checked, and which layer calls the traced run wraps.

Each workload object lives for one run in one Spark session.  ``execute``
is the timed part; ``check`` (untimed) returns the problems found in one
execution's output; ``reference`` (untimed, once per run) computes the
expected results in DuckDB; ``instrument`` patches the layer calls for a
traced execution and ``layer_metrics`` turns its spans into the per-layer
metrics.
"""

from __future__ import annotations

import contextlib
import importlib.util
import json
import os
import shutil
import sys
import uuid

import duckdb
from pyspark.sql import functions as F

from transmog_spark.oracle import duck_md5_long

# The reference library's uuid5 namespace for hash ids; root ids are
# uuid5(NS, canonical JSON of the whole record, lower-cased).
TRANSMOG_NAMESPACE = uuid.UUID("a9b8c7d6-e5f4-1234-abcd-0123456789ab")
P = 1_000_000_007
BUDGET = 2048
HASH_BLOCKS = 1024  # packing order of string ids: (source, md5_long(id) % 1024, id)
GAP_S = 6 * 3600
SHARDS = 1
FUNNEL_MIN, FUNNEL_MAX = 0.005, 0.90


def du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if not f.startswith(".") and not f.startswith("_"):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def spark_md5_long(expr: str) -> str:
    return f"cast(conv(substring(md5({expr}), 1, 15), 16, 10) as bigint)"


def _duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.environ.get('TMPDIR', '.')}'")
    return con


# ------------------------------------------------------------ flatten_pit
# One row of the feature output as text, identical in Spark and DuckDB:
# integers as decimal text, timestamps as epoch microseconds, feature_v
# (k / 1000 by construction) as the integer k, NULL as 'N'.
def _feature_row(us, cast_long, nvl) -> str:
    cols = [
        "doc_id",
        "source",
        cast_long("rev"),
        cast_long(us("ts")),
        cast_long("rev_n_tok"),
        nvl(cast_long("round(feature_v * 1000)")),
        nvl(cast_long(us("feature_ts"))),
        cast_long("session_index"),
        nvl(cast_long("rev_n_tok_lag1")),
        nvl(cast_long("rev_n_tok_lead1")),
        cast_long("n_tok"),
    ]
    return "concat_ws('|', " + ", ".join(cols) + ")"


def _pack_row(cast_long) -> str:
    cols = ["source", cast_long("seq_id"), "doc_id", cast_long("seq_offset"), cast_long("doc_offset"), cast_long("span_len")]
    return "concat_ws('|', " + ", ".join(cols) + ")"


SPARK_FEATURE_ROW = _feature_row(
    lambda c: f"unix_micros({c})",
    lambda c: f"cast(cast({c} as bigint) as string)",
    lambda c: f"coalesce({c}, 'N')",
)
DUCK_FEATURE_ROW = _feature_row(
    lambda c: f"epoch_us({c})",
    lambda c: f"CAST(CAST({c} AS BIGINT) AS VARCHAR)",
    lambda c: f"coalesce({c}, 'N')",
)
SPARK_PACK_ROW = _pack_row(lambda c: f"cast(cast({c} as bigint) as string)")
DUCK_PACK_ROW = _pack_row(lambda c: f"CAST(CAST({c} AS BIGINT) AS VARCHAR)")
SPARK_TOK_HASH = f"aggregate(tokens, cast(0 as bigint), (acc, x) -> (acc * 31 + x) % {P})"
DUCK_TOK_HASH = (
    f"list_reduce(list_prepend(0::BIGINT, list_transform(tokens, x -> x::BIGINT)), "
    f"(acc, x) -> (acc * 31 + x) % {P})"
)
SPARK_TOK_ROW = f"concat(doc_id, '|', cast({SPARK_TOK_HASH} as string))"
DUCK_TOK_ROW = f"doc_id || '|' || CAST({DUCK_TOK_HASH} AS VARCHAR)"


class FlattenPit:
    """The paper's flatten-and-save job over nested JSONL records, then the
    north-rule point-in-time chain over the generated sequence tables."""

    def __init__(self, spark, inputs: dict, workdir: str):
        from transmog_spark import api
        from transmog_spark.config import EngineConfig
        from transmog_spark.operators import asof, packing, windows
        from transmog_spark.operators import flatten as flatten_mod

        self.spark, self.inp, self.workdir = spark, inputs, workdir
        self.api, self.asof, self.windows, self.packing, self.flatten_mod = api, asof, windows, packing, flatten_mod
        self.save_cfg = lambda: EngineConfig(array_mode="separate", id_generation="hash")
        self.meta_cfg = lambda: EngineConfig(
            id_generation="natural", id_field="doc_id", time_field=None, validate_natural=False
        )
        self.input_rows = inputs["flatten"]["input_rows"] + inputs["pit"]["input_rows"]
        self.input_bytes = inputs["flatten"]["input_bytes"] + inputs["pit"]["input_bytes"]
        self.expected: dict = {}
        self.trace_problems: list[str] = []

    # ---------------------------------------------------------- the job
    def features(self):
        pit_in = self.inp["pit"]
        read = self.spark.read.parquet
        seqs = read(pit_in["sequences"])
        flat = self.flatten_mod.flatten(read(pit_in["meta"]), "sequences", self.meta_cfg())
        revs = flat.tables["sequences_meta_revisions"].select(
            F.col("_parent_id").alias("doc_id"), "rev", "editor", "ts", F.col("n_tok").alias("rev_n_tok")
        )
        events = read(pit_in["feature_events"]).select("doc_id", "ts", "feature_v")
        pit = self.asof.asof_join(
            revs, events, on="doc_id", value_cols=["feature_v"], matched_ts_col="feature_ts"
        )
        pit = self.windows.sessionize(pit, "doc_id", ["ts", "rev"], gap_seconds=GAP_S)
        pit = self.windows.with_lag_lead(pit, "doc_id", ["ts", "rev"], ["rev_n_tok"])
        feats = pit.join(seqs.select("doc_id", "tokens", "n_tok", "source"), "doc_id")
        packed = self.packing.pack_concat(seqs, budget=BUDGET)
        return feats, packed

    def execute(self, k: int) -> dict:
        out = os.path.join(self.workdir, f"out{k}")
        result = self.api.flatten_records(self.inp["flatten"]["records"], "company", self.save_cfg())
        result.save(out, "parquet")
        feats, packed = self.features()
        fd = feats.agg(
            F.count(F.lit(1)).alias("rows"),
            F.expr(f"sum({spark_md5_long(SPARK_FEATURE_ROW)} % {P})").alias("row_digest"),
            F.expr(f"sum({spark_md5_long(SPARK_TOK_ROW)} % {P})").alias("tok_digest"),
            F.expr("sum(CASE WHEN feature_ts > ts THEN 1 ELSE 0 END)").alias("leaks"),
            F.expr("sum(CASE WHEN feature_v IS NOT NULL THEN 1 ELSE 0 END)").alias("matched"),
        ).collect()[0].asDict()
        pd_ = packed.agg(
            F.count(F.lit(1)).alias("rows"),
            F.expr(f"sum({spark_md5_long(SPARK_PACK_ROW)} % {P})").alias("row_digest"),
            F.sum("span_len").alias("tokens"),
            F.countDistinct("source", "seq_id").alias("sequences"),
        ).collect()[0].asDict()
        return {"out": out, "features": fd, "packed": pd_, "out_bytes": du(out)}

    # ------------------------------------------------------- reference
    def reference(self) -> None:
        fl, pit = self.inp["flatten"], self.inp["pit"]
        con = _duck()
        try:
            seq, meta, fe = (pit[n] for n in ("sequences", "meta", "feature_events"))
            gap_us = GAP_S * 1_000_000
            feats = f"""
WITH seq AS (SELECT * FROM read_parquet('{seq}')),
revs AS (SELECT doc_id, r.rev AS rev, r.ts AS ts, r.n_tok AS rev_n_tok
         FROM (SELECT doc_id, unnest(meta.revisions) AS r FROM read_parquet('{meta}'))),
feg AS (SELECT doc_id, ts, max(feature_v) AS feature_v
        FROM read_parquet('{fe}') GROUP BY 1, 2),
pit AS (SELECT r.*, f.feature_v, f.ts AS feature_ts
        FROM revs r ASOF LEFT JOIN feg f ON r.doc_id = f.doc_id AND r.ts >= f.ts),
flagged AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {gap_us}
                           THEN 1 ELSE 0 END AS is_new
            FROM pit WINDOW w AS (PARTITION BY doc_id ORDER BY ts, rev)),
out AS (SELECT f.*, s.tokens, s.n_tok, s.source,
               sum(is_new) OVER (PARTITION BY f.doc_id ORDER BY f.ts, f.rev
                                 ROWS UNBOUNDED PRECEDING) - 1 AS session_index,
               lag(rev_n_tok) OVER (PARTITION BY f.doc_id ORDER BY f.ts, f.rev) AS rev_n_tok_lag1,
               lead(rev_n_tok) OVER (PARTITION BY f.doc_id ORDER BY f.ts, f.rev) AS rev_n_tok_lead1
        FROM flagged f JOIN seq s ON f.doc_id = s.doc_id)
SELECT count(*),
       sum({duck_md5_long(DUCK_FEATURE_ROW)} % {P}),
       sum({duck_md5_long(DUCK_TOK_ROW)} % {P}),
       0,
       sum(CASE WHEN feature_v IS NOT NULL THEN 1 ELSE 0 END)
FROM out"""
            r = con.execute(feats).fetchone()
            # the input side of the token-array invariant: every revision
            # row must carry exactly its doc's input token array
            n_rev = con.execute(
                f"SELECT count(*) FROM (SELECT unnest(meta.revisions) FROM read_parquet('{meta}'))"
            ).fetchone()[0]
            self.expected["features"] = dict(zip(["rows", "row_digest", "tok_digest", "leaks", "matched"], [int(x) for x in r]))
            self.expected["revisions"] = int(n_rev)
            pack = f"""
WITH docs AS (SELECT doc_id, source, n_tok, {duck_md5_long('doc_id')} % {HASH_BLOCKS} AS blk
              FROM read_parquet('{seq}') WHERE n_tok > 0),
off AS (SELECT *, CAST(COALESCE(SUM(n_tok) OVER (
          PARTITION BY source ORDER BY blk, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        FROM docs),
spans AS (SELECT source, doc_id, tok_start, n_tok,
                 unnest(generate_series(tok_start // {BUDGET}, (tok_start + n_tok - 1) // {BUDGET})) AS seq_id
          FROM off),
packed AS (
  SELECT source, seq_id, doc_id,
         greatest(tok_start, seq_id * {BUDGET}) - seq_id * {BUDGET} AS seq_offset,
         greatest(tok_start, seq_id * {BUDGET}) - tok_start AS doc_offset,
         least(tok_start + n_tok, seq_id * {BUDGET} + {BUDGET}) - greatest(tok_start, seq_id * {BUDGET}) AS span_len
  FROM spans)
SELECT count(*), sum({duck_md5_long(DUCK_PACK_ROW)} % {P}), sum(span_len),
       count(DISTINCT (source, seq_id))
FROM packed"""
            r = con.execute(pack).fetchone()
            self.expected["packed"] = dict(zip(["rows", "row_digest", "tokens", "sequences"], [int(x) for x in r]))
        finally:
            con.close()
        # sampled root ids: pure-Python uuid5 over the canonical record
        sample = set(range(0, fl["input_rows"], max(1, fl["input_rows"] // 40)))
        ids = {}
        with open(fl["records"], encoding="utf-8") as fh:
            for i, line in enumerate(fh):
                if i in sample:
                    rec = json.loads(line)
                    canonical = json.dumps(rec, sort_keys=True, ensure_ascii=False).strip().lower()
                    ids[rec["id"]] = str(uuid.uuid5(TRANSMOG_NAMESPACE, canonical))
        self.expected["root_ids"] = ids

    # ----------------------------------------------------------- check
    def check(self, res: dict) -> list[str]:
        problems = []
        out = res["out"]
        exp_counts = self.inp["flatten"]["table_counts"]
        con = _duck()
        try:
            tables = sorted(os.listdir(out))
            if tables != sorted(exp_counts):
                return [f"tables {tables} != {sorted(exp_counts)}"]
            pq_ = lambda t: f"read_parquet('{os.path.join(out, t)}/*.parquet')"
            for t, n in exp_counts.items():
                got = con.execute(f"SELECT count(*) FROM {pq_(t)}").fetchone()[0]
                if got != n:
                    problems.append(f"{t}: {got} rows, expected {n}")
            con.execute(f"CREATE TABLE main_ids AS SELECT _id FROM {pq_('company')}")
            for t in exp_counts:
                if t == "company":
                    continue
                # an anti join, so a NULL _parent_id counts as an orphan
                orphans = con.execute(
                    f"SELECT count(*) FROM {pq_(t)} c "
                    "WHERE NOT EXISTS (SELECT 1 FROM main_ids m WHERE m._id = c._parent_id)"
                ).fetchone()[0]
                if orphans:
                    problems.append(f"{t}: {orphans} rows whose _parent_id is not a main _id")
            want = self.expected["root_ids"]
            got = dict(
                con.execute(
                    f"SELECT id, _id FROM {pq_('company')} WHERE id IN ({','.join(map(str, want))})"
                ).fetchall()
            )
            bad = [i for i in want if got.get(i) != want[i]]
            if bad:
                problems.append(f"root _id differs from uuid5 reference for ids {bad[:5]}")
        finally:
            con.close()
        for part in ("features", "packed"):
            if res[part] != self.expected[part]:
                problems.append(f"{part} digest {res[part]} != DuckDB replay {self.expected[part]}")
        if res["features"]["leaks"]:
            problems.append(f"{res['features']['leaks']} rows with feature_ts > ts")
        if res["features"]["rows"] != self.expected["revisions"]:
            problems.append("feature rows != revision rows: token arrays not attached one-to-one")
        return problems

    def cleanup(self, res: dict) -> None:
        shutil.rmtree(res["out"], ignore_errors=True)

    # ---------------------------------------------------------- tracing
    def instrument(self, tracer) -> None:
        from transmog_spark import sinks
        from transmog_spark.sources import readers

        tracer.patch(self.api, "read_file", "sources")
        tracer.patch(self.api, "flatten", "flatten")
        tracer.patch(self.flatten_mod, "flatten", "flatten")
        tracer.patch(sinks, "save_tables", "sinks", materialize=False, kind="action")
        tracer.patch(sinks, "write_table", "sinks", materialize=False, kind="action")
        tracer.patch(self.asof, "asof_join", "asof")
        tracer.patch(self.windows, "sessionize", "windows")
        tracer.patch(self.windows, "with_lag_lead", "windows")
        tracer.patch(self.packing, "pack_concat", "packing")
        self._readers = readers

    def probes(self, tracer) -> dict:
        """Counts and timings the traced execution cannot see from outside:
        the hash-id column's own cost and the as-of/packing ratios."""
        from transmog_spark.functions import ids

        m = {}
        parsed = self._readers.read_file(self.spark, self.inp["flatten"]["records"]).persist()
        try:
            parsed.count()
            with tracer.span("functions.noop_parsed", "probe") as a:
                parsed.write.format("noop").mode("overwrite").save()
            with tracer.span("functions.noop_ids", "probe") as b:
                parsed.withColumn("_id", ids.id_column(parsed, self.save_cfg())).write.format("noop").mode(
                    "overwrite"
                ).save()
            m["functions.ids_exec_s"] = b.dur - a.dur
        finally:
            parsed.unpersist()
        return m

    def layer_metrics(self, tracer, res: dict) -> dict:
        t = lambda name, kind="exec": tracer.total(name, kind)
        m = {
            "sources.read_call_s": t("sources.read_file", "call"),
            "flatten.plan_s": t("flatten.flatten", "call"),
            "flatten.exec_s": t("flatten.flatten"),
            "flatten.rows_out": tracer.rows("flatten.flatten"),
            "sinks.write_s": t("sinks.write_table", "action"),
            "sinks.bytes_out": res["out_bytes"],
            "asof.exec_s": t("asof.asof_join"),
            "asof.match_ratio": res["features"]["matched"] / max(1, res["features"]["rows"]),
            "windows.exec_s": t("windows.sessionize") + t("windows.with_lag_lead"),
            "packing.exec_s": t("packing.pack_concat"),
            "packing.fill_ratio": res["packed"]["tokens"] / max(1, res["packed"]["sequences"] * BUDGET),
        }
        return m


# ------------------------------------------------------------ curate_shards
class CurateShards:
    """``jobs/curate_corpus.py`` end to end, fresh output and checkpoint
    directories for every execution."""

    def __init__(self, spark, inputs: dict, workdir: str, root: str):
        spec = importlib.util.spec_from_file_location("curate_corpus", os.path.join(root, "jobs", "curate_corpus.py"))
        self.job = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.job)
        self.spark, self.inp, self.workdir = spark, inputs["curate"], workdir
        self.input_rows = self.inp["input_rows"]
        self.input_bytes = self.inp["input_bytes"]
        self.expected: dict = {}
        self.first_manifest = None
        self.trace_problems: list[str] = []

    def execute(self, k: int) -> dict:
        out = os.path.join(self.workdir, f"out{k}")
        ck = os.path.join(self.workdir, f"ck{k}")
        argv = ["--docs", self.inp["docs"], "--output", out, "--checkpoint", ck, "--n-shards", str(SHARDS)]
        with contextlib.redirect_stdout(sys.stderr):
            rc = self.job.main(argv)
        return {"out": out, "ck": ck, "rc": rc, "out_bytes": du(out)}

    def reference(self) -> None:
        """Replay the chain's stage CTEs in DuckDB for the kept-id set and
        the funnel.  The job trains its reference LM on the corpus without
        the held-out slice, so the quality gate CTE is built over that
        corpus view."""
        from transmog_spark import oracle

        con = _duck()
        try:
            con.execute(f"CREATE TABLE documents AS SELECT * FROM read_parquet('{self.inp['docs']}')")
            con.execute("CREATE VIEW corpus_docs AS SELECT * FROM documents WHERE NOT (doc_id % 97 = 0)")
            prefix = oracle._curation_stage_ctes(table="documents")
            qg_all = oracle.quality_gate_sql(table="documents")
            if prefix.count(qg_all) != 1:
                raise RuntimeError("quality gate CTE not found once in the curation stage CTEs")
            prefix = prefix.replace(qg_all, oracle.quality_gate_sql(table="corpus_docs"))
            rows = con.execute(
                prefix
                + """,
funnel AS (
  SELECT (SELECT count(*) FROM corpus) AS n_corpus,
         (SELECT count(*) FROM corpus c JOIN qg q ON c.doc_id = q.doc_id
          WHERE q.verdict = 'keep') AS n_gate,
         (SELECT count(*) FROM keep) AS n_keep, (SELECT count(*) FROM ded) AS n_ded,
         (SELECT count(*) FROM nded) AS n_nded,
         (SELECT sum(n_tok) FROM stripped) AS tok, (SELECT sum(n_removed) FROM stripped) AS tok_removed)
SELECT f.*, d.doc_id FROM funnel f LEFT JOIN docs d ON true"""
            ).fetchall()
        finally:
            con.close()
        names = ["corpus", "quality_gate", "decontaminate", "exact_dedup", "near_dedup", "tokens", "tokens_removed"]
        self.expected["funnel"] = dict(zip(names, [int(x or 0) for x in rows[0][:-1]]))
        self.expected["kept"] = {r[-1] for r in rows if r[-1] is not None}

    def funnel_problems(self) -> list[str]:
        f = self.expected["funnel"]
        stages = [
            ("quality_gate", f["corpus"], f["quality_gate"]),
            ("decontaminate", f["quality_gate"], f["decontaminate"]),
            ("exact_dedup", f["decontaminate"], f["exact_dedup"]),
            ("near_dedup", f["exact_dedup"], f["near_dedup"]),
            ("span_strip", f["tokens"], f["tokens"] - f["tokens_removed"]),
        ]
        problems = []
        for name, n_in, n_out in stages:
            drop = 1 - n_out / n_in if n_in else 1.0
            if not FUNNEL_MIN <= drop <= FUNNEL_MAX:
                problems.append(f"funnel stage {name} drops {drop:.1%} of its input ({n_in} -> {n_out})")
        return problems

    def check(self, res: dict) -> list[str]:
        if res["rc"] != 0:
            return [f"job exit code {res['rc']}"]
        con = _duck()
        try:
            manifest = con.execute(
                f"SELECT * FROM read_parquet('{res['out']}/manifests/*.parquet') ORDER BY shard"
            ).fetchall()
            kept = {
                r[0]
                for r in con.execute(
                    f"SELECT doc_id FROM read_parquet('{res['out']}/data/**/*.parquet', hive_partitioning = true)"
                ).fetchall()
            }
        finally:
            con.close()
        problems = []
        if len(manifest) != SHARDS:
            problems.append(f"{len(manifest)} manifest rows, expected {SHARDS}")
        if self.first_manifest is None:
            self.first_manifest = manifest
        elif manifest != self.first_manifest:
            problems.append("manifest differs from the run's first execution")
        want = self.expected["kept"]
        if kept != want:
            problems.append(
                f"kept ids differ from the DuckDB replay: {len(kept - want)} extra, {len(want - kept)} missing"
            )
        return problems

    def cleanup(self, res: dict) -> None:
        shutil.rmtree(res["out"], ignore_errors=True)
        shutil.rmtree(res["ck"], ignore_errors=True)

    # ---------------------------------------------------------- tracing
    def instrument(self, tracer) -> None:
        from pyspark.sql.readwriter import DataFrameReader

        from transmog_spark import checkpoint
        from transmog_spark.operators import corpus, dedup, quality, spans
        from transmog_spark.sources import tables
        from transmog_spark.streaming import curation
        from transmog_spark.streaming import quality as squality

        tracer.patch(DataFrameReader, "parquet", "sources", materialize=False)
        tracer.patch(squality, "train_reference_model", "lm")
        tracer.patch(curation, "curate_batch", "curation")
        # the stages curate_batch composes: their inputs (the joins it
        # builds between them) are materialised under curate_batch's span
        tracer.patch(quality, "quality_gate", "quality", inputs=True)
        tracer.patch(corpus, "decontaminate", "corpus", inputs=True)
        tracer.patch(dedup, "dedupe_exact", "dedup", inputs=True)
        tracer.patch(dedup, "minhash_near_duplicates", "dedup", inputs=True)
        tracer.patch(dedup, "dedupe_near", "dedup", inputs=True)
        tracer.patch(spans, "strip_duplicate_spans", "spans", inputs=True)
        tracer.patch(corpus, "training_order", "corpus")
        tracer.patch(corpus, "shard_manifest", "corpus")
        tracer.patch(tables, "write_table", "tables", materialize=False, kind="action")
        tracer.patch(checkpoint.CheckpointStore, "commit", "checkpoint", materialize=False, kind="action")
        tracer.patch(checkpoint.CheckpointStore, "committed_keys", "checkpoint", materialize=False, kind="action")

    def probes(self, tracer) -> dict:
        """Candidate pairs of the near-dup join: the program's own
        ``minhash_near_duplicates`` on the traced call's input with the
        Jaccard threshold at 0, so every candidate passes."""
        from transmog_spark.operators import dedup

        args, kwargs = tracer.last_args["dedup.minhash_near_duplicates"]
        with tracer.span("dedup.candidate_pairs", "probe") as sp:
            sp.rows = dedup.minhash_near_duplicates(*args, **{**kwargs, "threshold": 0.0}).count()
        return {"_candidate_pairs": sp.rows}

    def layer_metrics(self, tracer, res: dict) -> dict:
        """Time metrics claim disjoint stretches of the job span (self
        times, so a nested call's time is not counted twice); whatever no
        metric claims is ``curation.unattributed_s`` and is broken down by
        span on stderr."""
        from tracing import length, subtract

        f = self.expected["funnel"]
        job = tracer.find("job", "phase")[0]

        def own(name: str, kind: str = "exec") -> list[tuple[float, float]]:
            return [iv for sp in tracer.find(name, kind) for iv in tracer.self_intervals(sp)]

        commits = own("checkpoint.commit", "action")
        # the shard loop: from committed_keys() to the last watermark
        # commit; each shard is written, counted back and committed
        ck = tracer.find("checkpoint.committed_keys", "action")
        loop = [(ck[-1].end, max(e for _, e in commits))] if ck and commits else []
        claims = {
            "lm.train_s": own("lm.train_reference_model", "call") + own("lm.train_reference_model"),
            "quality.exec_s": own("quality.quality_gate"),
            "corpus.decontam_s": own("corpus.decontaminate"),
            "corpus.order_s": own("corpus.training_order"),
            "corpus.manifest_s": own("corpus.shard_manifest"),
            "dedup.exact_s": own("dedup.dedupe_exact"),
            "dedup.minhash_s": own("dedup.minhash_near_duplicates"),
            "dedup.cc_call_s": own("dedup.dedupe_near", "call"),
            "spans.exec_s": own("spans.strip_duplicate_spans"),
            "checkpoint.commit_s": commits,
            "checkpoint.shard_write_s": subtract(loop, commits),
            "sources.read_call_s": subtract(own("sources.parquet", "call"), loop),
        }
        m = {k: length(v) for k, v in claims.items()}
        claimed = sorted(iv for v in claims.values() for iv in v)
        unattributed = length(subtract([(job.start, job.end)], claimed))
        m["curation.unattributed_s"] = unattributed
        total = sum(m.values())
        print(
            f"[account] job {job.dur:.3f}s = layer metrics {total - unattributed:.3f}s "
            f"+ unattributed {unattributed:.3f}s",
            file=sys.stderr,
        )
        if abs(total - job.dur) > 1e-3 or any(s < job.start or e > job.end for s, e in claimed):
            self.trace_problems.append(
                f"layer metrics plus unattributed ({total:.3f}s) do not add up to the job wall ({job.dur:.3f}s)"
            )
        rest: dict[str, float] = {}
        for sp in [job] + tracer.descendants(job):
            left = length(subtract(tracer.self_intervals(sp), claimed))
            rest[f"{sp.kind}:{sp.name}"] = rest.get(f"{sp.kind}:{sp.name}", 0.0) + left
        for name, left in sorted(rest.items(), key=lambda kv: -kv[1]):
            if left >= 0.005:
                print(f"[account] unattributed {left:.3f}s in {name}", file=sys.stderr)
        m.update(
            {
                "quality.keep_ratio": f["quality_gate"] / max(1, f["corpus"]),
                "corpus.decontam_drop_ratio": 1 - f["decontaminate"] / max(1, f["quality_gate"]),
                "dedup.verified_pairs": tracer.rows("dedup.minhash_near_duplicates"),
                "spans.removed_tok_ratio": f["tokens_removed"] / max(1, f["tokens"]),
            }
        )
        return m
