"""The benchmark's workloads. Each one builds its inputs (from the seed,
or from the fixed documents corpus), runs one unit of user work
(``execute``, the timed part), checks that run's outputs against
expectations derived from the inputs, and, in the traced run, probes the
layers its unit of work calls."""

from __future__ import annotations

import contextlib
import io
import os
import random
import shutil
from collections import Counter

from pyspark.sql import Observation
from pyspark.sql import functions as F

import inputs

STATS_COLUMNS = ["conv_id", "role"]
# result schemas of the timed dedup queries, in their column order. q16
# and q61 are left out: their pipelines (minhash_near_dups, near_dup_groups)
# run inside q50, which adds the join-back and the per-language summary,
# and the traced run probes them as dedup.candidates, dedup.near_dups and
# dedup.cc.
DEDUP_QUERIES = {
    "q50_dedup_materialize": "lang string, n_kept bigint, min_id bigint, chars_kept bigint",
}
LSH = {"num_hashes": 64, "bands": 32}  # the settings q50 uses


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _local_counts(path: str, *cols, partition: str | None = None) -> dict:
    """Row counts by the values of ``cols`` (a tuple of strings when there
    are several) in a parquet directory, read with pyarrow: no Spark job
    runs between two timed runs. ``partition`` names a hive partition
    column of the directory, read as a string."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    part = ds.partitioning(pa.schema([(partition, pa.string())]), flavor="hive") if partition else None
    data = ds.dataset(path, format="parquet", partitioning=part).to_table(columns=list(cols)).to_pydict()
    keys = zip(*(map(str, data[c]) for c in cols)) if len(cols) > 1 else map(str, data[cols[0]])
    return dict(Counter(keys))


def _expect(problems: list, what: str, got, want) -> None:
    if got != want:
        problems.append(f"{what}: got {got!r}, want {want!r}")


def _content(df):
    """(row count, order-free content hash) aggregates over every column."""
    h = F.xxhash64(*[F.col(c) for c in df.columns]).bitwiseAND(F.lit(0xFFFFFFFF))
    return F.count(F.lit(1)).alias("n"), F.coalesce(F.sum(h), F.lit(0)).alias("h")


def _rowset(rows) -> Counter:
    """Multiset of rows given as dicts, independent of column order."""
    return Counter(tuple(sorted(r.items())) for r in rows)


class Workload:
    name = ""
    span = ""  # the traced run's span around one unit of work

    def __init__(self, ctx):
        self.ctx = ctx
        self.rows = 0  # input rows of one unit of work

    @property
    def spark(self):
        return self.ctx.spark

    def build(self, inputs_dir: str) -> None:
        """Write the inputs under ``inputs_dir`` and derive the expectations."""
        raise NotImplementedError

    def prepare(self, i: int) -> dict:
        """Untimed per-run preparation; returns the run's state."""
        return {"i": i}

    def execute(self, state: dict) -> None:
        """The timed unit of work."""
        raise NotImplementedError

    def check(self, state: dict) -> list[str]:
        """Problems found in the run's outputs; empty when all is right."""
        raise NotImplementedError

    def cleanup(self, state: dict) -> None:
        pass

    def probes(self, rec) -> dict:
        """Traced calls into each layer, one span each; returns the
        layer-specific metrics the spans alone cannot give."""
        raise NotImplementedError

    def corrupt_expectation(self) -> None:
        """Make one expectation wrong, so every later check must fail."""
        raise NotImplementedError


class CliResume(Workload):
    """``cli.main`` resuming from a lineage store in which 24 of the 32
    partitions passed; the 8 pending partitions carry defects at known
    keys, so the run validates a quarter of the table, writes violations,
    FAIL lines and stats, appends lineage and exits 1."""

    name = "cli_resume"
    span = "cli"

    def manifest(self) -> str:
        return os.path.join(self.ctx.root, "manifests", "transcripts_base.yml")

    def build(self, inputs_dir: str) -> None:
        from schema_enforcer_spark.checkpoint import CheckpointManager
        from schema_enforcer_spark.engine import ValidationEngine, ValidationReport
        from schema_enforcer_spark.manifest import load_manifest
        from schema_enforcer_spark.stats import stats_store_path, write_partition_stats

        cfg = self.ctx.cfg["transcripts"]
        n_parts = cfg["num_buckets"]
        # Pending: the partition holding the first (hot) conversation and
        # seed-chosen others, so every seed validates a hot conversation.
        hot = cfg["hot_partition"]
        rng = random.Random(self.ctx.seed)
        others = rng.sample([p for p in range(n_parts) if p != hot], n_parts - cfg["resume_done_partitions"] - 1)
        self.pending = sorted(str(p) for p in [hot, *others])
        self.table = os.path.join(inputs_dir, "transcripts")
        exp = inputs.write_transcripts(
            self.spark, self.table, self.ctx.seed, self.ctx.size["convs"], cfg, [int(p) for p in self.pending]
        )
        if exp["rows_per_partition"].get(str(hot), 0) < cfg["hot_turns"]:
            raise RuntimeError(f"partition {hot} holds no hot conversation; correct transcripts.hot_partition")
        self.rows = sum(exp["rows_per_partition"].values())
        self.pending_rows = sum(exp["rows_per_partition"][p] for p in self.pending)
        self.partitions = sorted(exp["rows_per_partition"])
        self.violations: dict[str, int] = {}
        for per_rule in exp["violations_per_partition"].values():
            for rule, n in per_rule.items():
                self.violations[rule] = self.violations.get(rule, 0) + n
        self.failing = set(exp["violations_per_partition"])

        # lineage seeding: the store a passing earlier run over the 24 done
        # partitions leaves behind, written through the program's own
        # checkpoint and stats calls
        eng = ValidationEngine(load_manifest(self.manifest()))
        done = self.spark.read.parquet(self.table).filter(~F.col("partition_id").cast("string").isin(self.pending))
        verdicts = self.spark.createDataFrame(
            [(eng.manifest.id, q, "PARTITION", "PASS", 0) for q in self.partitions if q not in self.pending],
            "schema_id string, instance_name string, grain string, result string, n_violations bigint",
        )
        self.seed_ckpt = os.path.join(inputs_dir, "lineage_seed")
        CheckpointManager(self.spark, self.seed_ckpt).record(done, eng, ValidationReport(None, verdicts))
        write_partition_stats(done, STATS_COLUMNS, stats_store_path(self.seed_ckpt), eng._instance_col(done))

    def prepare(self, i: int) -> dict:
        state = {"i": i, "out": os.path.join(self.ctx.work, f"out-{i}"), "ckpt": os.path.join(self.ctx.work, f"lineage-{i}")}
        shutil.rmtree(state["out"], ignore_errors=True)
        shutil.rmtree(state["ckpt"], ignore_errors=True)
        shutil.copytree(self.seed_ckpt, state["ckpt"])
        return state

    def execute(self, state: dict) -> None:
        from schema_enforcer_spark import cli

        argv = ["--manifest", self.manifest(), "--input", self.table, "--output", state["out"],
                "--checkpoint", state["ckpt"], "--stats-columns", ",".join(STATS_COLUMNS)]
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            state["rc"] = cli.main(argv)
        state["stdout"] = buf.getvalue()

    def check(self, state: dict) -> list[str]:
        from schema_enforcer_spark.stats import stats_store_path

        p: list[str] = []
        total = sum(self.violations.values())
        _expect(p, "exit code", state.get("rc"), 1 if total else 0)
        out = state.get("stdout", "")
        last = out.rstrip().rsplit("\n", 1)[-1].split(" [")[0]
        _expect(p, "last line", last, f"{total} violation(s)" if total else "ALL SCHEMA VALIDATION CHECKS PASSED")
        if f"validated {self.pending_rows} pending rows" not in out:
            p.append(f"stdout lacks 'validated {self.pending_rows} pending rows'")
        violations = _local_counts(state["out"] + "/violations", "schema_id", partition="instance_name")
        _expect(p, "violations per rule", violations, self.violations)
        verdicts = {q: "FAIL" if q in self.failing else "PASS" for q in self.pending}
        got = _local_counts(state["out"] + "/verdicts", "instance_name", "result", partition="instance_name")
        _expect(p, "verdicts", got, {(q, r): 1 for q, r in verdicts.items()})
        # the lineage store gains exactly one row per pending partition
        lineage = {q: "PASS" for q in self.partitions if q not in verdicts} | verdicts
        rows = _local_counts(state["ckpt"], "partition_id", "verdict")
        _expect(p, "lineage rows", rows, {(q, v): 1 for q, v in lineage.items()})
        # and so does the stats store, one row per stats column
        stats = _local_counts(stats_store_path(state["ckpt"]), "partition_id", "col_name")
        _expect(p, "stats rows", stats, {(q, c): 1 for q in self.partitions for c in STATS_COLUMNS})
        return p

    def cleanup(self, state: dict) -> None:
        shutil.rmtree(state["out"], ignore_errors=True)
        shutil.rmtree(state["ckpt"], ignore_errors=True)

    def corrupt_expectation(self) -> None:
        rule = inputs.DEFECT_RULES["enum"]
        self.violations[rule] = self.violations.get(rule, 0) + 1

    def probes(self, rec) -> dict:
        from schema_enforcer_spark.checkpoint import CheckpointManager
        from schema_enforcer_spark.compiler import compile_row_rules
        from schema_enforcer_spark.engine import ValidationEngine
        from schema_enforcer_spark.manifest import load_manifest
        from schema_enforcer_spark.stats import merged_column_stats, stats_store_path, write_partition_stats

        spark, m = self.spark, {}
        with rec.span("manifest"):
            man = load_manifest(self.manifest())
        table = spark.read.parquet(self.table)
        # the engine layer sees what the CLI hands it: the pending quarter
        df = table.filter(F.col("partition_id").cast("string").isin(self.pending))
        with rec.span("compiler"):
            compile_row_rules(df, man)
        with rec.span("engine.plan"):
            eng = ValidationEngine(man)
            eng.validate(df).unpersist()
        with rec.span("engine.row_rules"):
            obs = Observation()
            noop(eng.row_violations(df).observe(obs, F.count(F.lit(1)).alias("n")))
        m["engine.row_rules.rows_out"] = obs.get["n"]
        with rec.span("engine.table_rules"):
            noop(eng.violations(df, include_row_rules=False))
        violations = eng.violations(df).persist()
        violations.count()
        with rec.span("engine.verdicts"):
            noop(eng.verdicts(df, violations))
        violations.unpersist()

        ckpt = os.path.join(self.ctx.work, "lineage-probe")
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.copytree(self.seed_ckpt, ckpt)
        cm = CheckpointManager(spark, ckpt)
        with rec.span("checkpoint.pending"):
            pend = cm.pending(table, eng)
            n_pend = pend.count()
        m["checkpoint.pending_ratio"] = n_pend / self.rows
        report = eng.validate(pend)
        report.violations.count()
        report.verdicts.count()
        with rec.span("checkpoint.record"):
            cm.record(pend, eng, report)
        report.unpersist()
        store = stats_store_path(ckpt)
        with rec.span("stats.write"):
            write_partition_stats(df, STATS_COLUMNS, store, eng._instance_col(df))
        with rec.span("stats.merge"):
            merged_column_stats(spark, store).collect()
        return m


class DedupNearDups(Workload):
    """``q50_dedup_materialize`` from ``__spark_entry__.queries()`` over a
    fixed documents corpus (the seed does not change it), into a noop sink
    that also observes the row count and a content hash of the result."""

    name = "dedup_near_dups"
    span = "queries"

    def build(self, inputs_dir: str) -> None:
        import __spark_entry__ as entry

        self.sf_dir = os.path.join(inputs_dir, "sf")
        os.makedirs(self.sf_dir)
        shutil.copy(os.path.join(self.ctx.bench_dir, self.ctx.size["documents"]), self.sf_dir)
        docs = inputs.read_documents(os.path.join(self.sf_dir, "documents.parquet"))
        self.rows = len(docs["doc_id"])
        self.queries = entry.queries()
        self.expected_rows = inputs.dedup_expected(docs)
        if self.ctx.duckdb_oracle:
            self._check_oracle_sql(entry.oracle_sql(), self.expected_rows)
        self.expected: dict = {}
        self.extra_rows = 0  # corrupt_expectation sets it to 1

    def _expected(self, q: str) -> tuple:
        """(row count, content hash) of the expected rows of ``q``, hashed
        by Spark the way the run's observation hashes the result. Computed
        at the first check, not in the build: the first Spark job of a
        fresh JVM is slow, and the warm-up run pays for that anyway."""
        if q not in self.expected:
            schema = DEDUP_QUERIES[q]
            cols = [c.split()[0] for c in schema.split(", ")]
            df = self.spark.createDataFrame([tuple(r[c] for c in cols) for r in self.expected_rows[q]], schema)
            r = df.agg(*_content(df)).first()
            self.expected[q] = (r["n"], r["h"])
        n, h = self.expected[q]
        return n + self.extra_rows, h

    def _check_oracle_sql(self, oracles: dict, expected: dict) -> None:
        """The Python expectations must equal the repository's DuckDB
        oracles (all-pairs SQL, quadratic: run on small corpora only)."""
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.sf_dir}/documents.parquet'")
            for q in DEDUP_QUERIES:
                cur = con.execute(oracles[q])
                cols = [d[0] for d in cur.description]
                if _rowset(dict(zip(cols, row)) for row in cur.fetchall()) != _rowset(expected[q]):
                    raise RuntimeError(f"the expected rows of {q} disagree with its DuckDB oracle")
        finally:
            con.close()

    def execute(self, state: dict) -> None:
        for q in DEDUP_QUERIES:
            df = self.queries[q](self.spark, self.sf_dir)
            if df.columns != [c.split()[0] for c in DEDUP_QUERIES[q].split(", ")]:
                raise RuntimeError(f"{q} returned columns {df.columns}")
            state[q] = Observation()
            noop(df.observe(state[q], *_content(df)))

    def check(self, state: dict) -> list[str]:
        p: list[str] = []
        for q in DEDUP_QUERIES:
            _expect(p, f"{q} (rows, hash)", (state[q].get["n"], state[q].get["h"]), self._expected(q))
        return p

    def corrupt_expectation(self) -> None:
        self.extra_rows = 1

    def probes(self, rec) -> dict:
        from schema_enforcer_spark.functions.dedup import (
            connected_components_with_rounds,
            minhash_lsh_candidates,
            minhash_near_dups,
        )

        # the queries spread their single-file input over the cluster before
        # any expression work; the probes do the same
        docs = self.spark.read.parquet(f"{self.sf_dir}/documents.parquet").repartition(
            self.spark.sparkContext.defaultParallelism
        )
        with rec.span("dedup.candidates"):
            n_cand = minhash_lsh_candidates(docs, max_bucket_size=5000, **LSH).count()
        with rec.span("dedup.near_dups"):
            pairs = minhash_near_dups(docs, threshold=0.8, **LSH).persist()
            n_pairs = pairs.count()
        with rec.span("dedup.cc"):
            labels, rounds = connected_components_with_rounds(pairs)
            labels.count()
        pairs.unpersist()
        return {
            "dedup.candidate_pairs": n_cand,
            "dedup.verify_ratio": n_pairs / max(n_cand, 1),
            "dedup.cc_rounds": rounds,
        }


WORKLOADS = {w.name: w for w in (CliResume, DedupNearDups)}
