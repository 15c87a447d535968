"""The benchmark's workloads. Each drives one real lifecycle of the
program through its public entry points. ``generate`` makes the inputs
from the seed, once per run and untimed; ``setup`` prepares fresh state
with the program; ``open`` and ``close`` are the batch operations that
start and end the lifecycle; ``tick`` is the small repeated operation
between them, run ``TICKS`` times; ``check`` compares the outputs with
what the generated inputs imply. The tick count is fixed, so every run
of a workload does the same work."""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import checks
import gen

from pyspark.sql import types as T

from pos_api_pipeline_spark import lake
from pos_api_pipeline_spark.llm import bpe, dedup
from pos_api_pipeline_spark.llm import pipeline as llm_pipeline
from pos_api_pipeline_spark.operators.transform import run_transform
from pos_api_pipeline_spark.plans import dag
from pos_api_pipeline_spark.sources.json_source import load_receipts_json
from pos_api_pipeline_spark.sources.state import STATE_KEY


def _read(path: str, columns: list[str]) -> dict[str, list]:
    """Columns of a parquet output, read with pyarrow rather than the
    engine under test."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns).to_pydict()


class Workload:
    name = ""
    TICKS = 0

    def __init__(self, given: dict, work: Path, tracer):
        self.given = given
        self.work = work
        self.tracer = tracer
        self.checks_run = 0

    def open(self, spark) -> None:
        """Batch work before the first tick; none by default."""

    def _fresh(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        self.work.mkdir(parents=True)

    def _check(self, failures: list[str], out: list[str]) -> None:
        self.checks_run += 1
        out.extend(failures)


class PosMonth(Workload):
    """Daily ETL ticks in the middle of a month, then the first-of-month
    close, over a lake holding a year of history."""

    name = "pos_month"
    TICKS = 4

    @staticmethod
    def generate(seed: int, where: Path) -> dict:
        """The receipt stream, and its history landed as raw JSON lines,
        the way the reference's backfill finds its saved API responses."""
        inputs = gen.PosMonthInputs(seed)
        history = inputs.history()
        raw = where / "history.jsonl"
        with open(raw, "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in history)
        return {"inputs": inputs, "history": history, "raw": str(raw)}

    def setup(self, spark) -> None:
        self._fresh()
        self.lake = str(self.work / "lake")
        self.state = str(self.work / "state.json")
        self.report_dir = self.work / "reports"
        self.inputs = self.given["inputs"]
        self.receipts = list(self.given["history"])
        # Seed the lake through the program's backfill path.
        lake.write_partitioned(run_transform(load_receipts_json(spark, self.given["raw"])), self.lake)
        # state.read_last_timestamp falls back to the CURRENT calendar
        # month, which would filter out every generated receipt.
        with open(self.state, "w") as f:
            json.dump({STATE_KEY: self.inputs.watermark()}, f)
        self.runs: list[tuple[bool, int, dict]] = []

    def _run(self, spark, run_date, page, report_dir=None) -> int:
        lines = gen.receipt_lines(page)[0]
        with self.tracer.span("plans.run_production_etl") as sp:
            if sp is not None:
                sp.attrs["own_rows"] = lines
            statuses = dag.run_production_etl(
                spark, run_date, gen.page_fetcher(page), self.lake, self.state,
                report_dir=report_dir,
            )
        self.receipts += page
        self.runs.append((run_date.day == 1, lines, statuses))
        return lines

    def tick(self, spark) -> int:
        return self._run(spark, *self.inputs.tick_page())

    def close(self, spark) -> None:
        self.report_dir.mkdir(exist_ok=True)
        self._run(spark, *self.inputs.close_page(), report_dir=str(self.report_dir))

    def check(self, spark) -> list[str]:
        out: list[str] = []
        for first, lines, st in self.runs:
            self._check(checks.dag_statuses(st, first), out)
            self._check(checks.equal("etl rows", st.get("etl_result", {}).get("rows"), lines), out)
        money = _read(self.lake, ["total_money"])["total_money"]
        want_lines, want_total = gen.receipt_lines(self.receipts)
        self._check(checks.lake_totals((len(money), sum(money)), (want_lines, want_total)), out)

        st = self.runs[-1][2]
        kpis = gen.month_kpis(self.receipts)
        months = self.inputs.report_months()
        self._check(checks.monthly_kpis(
            st.get("monthly_report_md", ""), {m: kpis[m] for m in months}), out)
        self._check(checks.cumulative_kpis(
            st.get("cumulative_report_md", ""),
            (want_total, len({r["receipt_number"] for r in self.receipts}))), out)
        self._check(checks.pdfs([
            self.report_dir / f"monthly_report_{months[0]}.pdf",
            self.report_dir / "cumulative_report.pdf",
        ]), out)
        self._check(checks.figures([Path(p) for p in st.get("figures", [])]), out)
        return out


# The engine's ``documents`` table, plus the delta each document arrives in.
INPUT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("source", T.StringType()),
    T.StructField("n_chars", T.LongType()),
    T.StructField("delta", T.IntegerType()),
])


class LlmCuration(Workload):
    """Training-set materialization over the whole generated corpus,
    incremental curation ticks over its deltas, then the corpus close:
    connected-components dedup over MinHash candidates, BPE training
    and encoding."""

    name = "llm_curation"
    N_DOCS = 3000
    N_DELTAS = 5
    TICKS = N_DELTAS
    BPE_MERGES = 12

    @classmethod
    def generate(cls, seed: int, where: Path) -> dict:
        return {"docs": gen.documents(seed, cls.N_DOCS)}

    def setup(self, spark) -> None:
        from pos_api_pipeline_spark.plans.registry_llm import _E2E_BUDGET

        self._fresh()
        self.budget = _E2E_BUDGET
        self.docs = self.given["docs"]
        self.deltas = gen.split_deltas(self.docs, self.N_DELTAS)
        self.corpus = str(self.work / "corpus")
        self.index = str(self.work / "index")
        self.train = str(self.work / "train")
        self.encoded = str(self.work / "encoded")
        # Land the raw documents as parquet, one directory per delta, the
        # way a crawl drop arrives; the program reads them from disk.
        inputs = self.work / "inputs"
        spark.createDataFrame(
            [(*(d[f] for f in INPUT_SCHEMA.names[:-1]), i)
             for i, delta in enumerate(self.deltas) for d in delta],
            INPUT_SCHEMA,
        ).write.partitionBy("delta").parquet(str(inputs))
        self.docs_df = spark.read.parquet(str(inputs)).drop("delta")
        self.delta_dfs = [spark.read.parquet(str(inputs / f"delta={i}"))
                          for i in range(len(self.deltas))]
        self.runs: list[tuple[int, dict]] = []

    def tick(self, spark) -> int:
        i = len(self.runs)
        n = len(self.deltas[i])
        with self.tracer.span("llm.curation_tick") as sp:
            st = llm_pipeline.run_corpus_curation_tick(spark, self.delta_dfs[i], self.corpus, self.index)
        if sp is not None:
            sp.attrs["keep_ratio"] = st["n_appended"] / n
        self.runs.append((i, st))
        return n

    def open(self, spark) -> None:
        with self.tracer.span("llm.materialize_training_set"):
            llm_pipeline.materialize_training_set(self.docs_df, self.train, budget_tokens=self.budget)

    def close(self, spark) -> None:
        pairs = dedup.minhash_lsh_candidates(self.docs_df)
        with self.tracer.span("llm.dedupe_corpus_cc"):
            kept = dedup.dedupe_corpus_cc(self.docs_df, pairs).localCheckpoint(eager=True)
        with self.tracer.span("llm.bpe_train"):
            self.merges = bpe.bpe_train_batched(kept, n_merges=self.BPE_MERGES)
        with self.tracer.span("llm.bpe_encode"):
            bpe.bpe_encode_corpus(kept, self.merges).write.parquet(self.encoded)
        self.kept = kept

    def check(self, spark) -> list[str]:
        out: list[str] = []
        for i, st in self.runs:
            want = {"rule_filter_task": "success",
                    "cross_corpus_dedup_task": "skipped" if i == 0 else "success",
                    "append_task": "success" if st["n_appended"] else "skipped"}
            self._check([f"tick {i} {k}: {st.get(k)!r}" for k, v in want.items() if st.get(k) != v], out)

        corpus_ids = _read(self.corpus, ["doc_id"])["doc_id"]
        self._check(checks.equal("corpus rows", len(corpus_ids),
                                 sum(st["n_appended"] for _, st in self.runs)), out)
        self._check(checks.no_repeats(corpus_ids, "corpus"), out)

        train = _read(self.train, ["doc_id", "n_tokens"])
        self._check(checks.id_sets("training set vs oracle", train["doc_id"], self._oracle_ids()), out)
        self._check(checks.within_budget(sum(train["n_tokens"]), self.budget), out)

        kept_ids = [r.doc_id for r in self.kept.select("doc_id").collect()]
        self._check(checks.disjoint("cc dedup", kept_ids, gen.exact_copy_ids(self.docs)), out)
        enc = _read(self.encoded, ["n_words", "n_tokens"])
        self._check(checks.equal("encoded rows", len(enc["n_words"]), len(kept_ids)), out)
        self._check(checks.equal("merges learned", len(self.merges), self.BPE_MERGES), out)
        words, toks = sum(enc["n_words"]), sum(enc["n_tokens"])
        self._check([] if toks >= words else [f"{toks} BPE tokens < {words} words"], out)
        return out

    def _oracle_ids(self) -> list[int]:
        """The DuckDB twin of the curation pipeline, on the same docs."""
        import duckdb
        import pyarrow as pa

        import __spark_entry__

        sql = __spark_entry__.oracle_sql()["curation_pipeline_e2e"]
        con = duckdb.connect()
        con.execute("SET enable_progress_bar = false")
        try:
            con.register("documents", pa.Table.from_pylist(self.docs))
            return [r[0] for r in con.execute(f"SELECT doc_id FROM ({sql})").fetchall()]
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (PosMonth, LlmCuration)}


def _lake_files(path: str) -> dict[str, int]:
    root = Path(path)
    return {str(p): p.stat().st_size for p in root.rglob("*.parquet")} if root.exists() else {}


def instrument(tracer) -> None:
    """Wrap the program's public functions in spans for a traced run.
    Every wrapper is installed for every workload, so a layer a
    workload never reaches reports zero calls."""
    from pos_api_pipeline_spark.plans import pipelines, report
    from pos_api_pipeline_spark.sources import rest_api, state

    def before_merge(args, kwargs):
        path = kwargs.get("path", args[2] if len(args) > 2 else None)
        return path, _lake_files(path)

    def after_merge(token, span):
        # Parquet footers give the rows of the files this merge wrote;
        # the ratio to the tick's own rows is the bytes rewritten per
        # byte of new data (rows of one table have one width on average).
        import pyarrow.parquet as pq

        path, old = token
        new = {p: n for p, n in _lake_files(path).items() if p not in old}
        rows = sum(pq.ParquetFile(p).metadata.num_rows for p in new)
        own = tracer.inherited(span, "own_rows") or 0
        span.attrs.update(bytes_written=sum(new.values()), files_written=len(new),
                          write_amplification=rows / own if own else 0.0)

    for module, attr, name, hooks in [
        (rest_api, "fetch_incremental", "sources.fetch_incremental", ()),
        (state, "read_last_timestamp", "sources.state.read", ()),
        (state, "update_last_timestamp", "sources.state.update", ()),
        (pipelines, "run_transform", "operators.transform", ()),
        (pipelines, "frequent_itemsets_and_rules", "operators.basket.fpgrowth", ()),
        (lake, "merge_and_overwrite", "lake.merge_and_overwrite", (before_merge, after_merge)),
        (lake, "read_lake", "lake.read_lake", ()),
        (pipelines, "daily_incremental_run", "plans.daily_incremental_run", ()),
        (pipelines, "monthly_report_data", "plans.monthly_report_data", ()),
        (pipelines, "cumulative_report_data", "plans.cumulative_report_data", ()),
        (report, "render_report", "plans.report.render_report", ()),
        (report, "convert_md_to_pdf", "plans.report.convert_md_to_pdf", ()),
        (dag, "generate_all_report_figures", "plans.plots.generate_all_report_figures", ()),
        (llm_pipeline, "minhash_lsh_candidates", "llm.minhash_lsh_candidates", ()),
        (dedup, "minhash_lsh_candidates", "llm.minhash_lsh_candidates", ()),
    ]:
        tracer.patch(module, attr, name, *hooks)
