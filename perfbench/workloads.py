"""The benchmark's workloads. Each one makes its inputs from the seed,
runs one operation at a time through the package's public entry points,
checks every output, and can run a traced iteration that calls each
layer from outside, materializing each layer's output before the next.

Operation interface, shared by both workloads:

* ``prepare()`` builds the inputs (untimed);
* ``warm_up()`` runs the untimed warm-up operations and returns the checks
  that count;
* ``run_op(i)`` runs operation ``i`` and returns what ``check`` needs;
* ``check(i, payload)`` returns a :class:`Check`;
* ``traced(i, tracer)`` runs one traced iteration and returns
  ``(samples, checks)``: per-layer counter samples and the checks made.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys
from dataclasses import dataclass

import pandas as pd
import pyarrow.parquet as pq

from harness import rows_hash

# One file job is the reference's logged example run: 2,640 sentences.
FILE_JOB_ROWS = 2640
DOCS_PER_SF = 50_000  # documents rows per scale factor in tools/gen_testdata
TOKEN_LIMIT = 4000  # cli.cmd_translate's packing limit
PARSE_STRATEGIES = (
    "empty",
    "json_basic",
    "json_aggressive",
    "json_multiline",
    "json_unicode",
    "line_fallback",
    "unparseable",
)

# catalog_mix: the fixed query list, run in this order, over a full
# generated table set at this scale factor. curation_full_pipeline is left
# out to keep a run near one minute: with it a run took about 10 s more
# (its DuckDB oracle alone takes 9 s).
MIX_SF = 0.01
MIX_QUERIES = (
    "tpch_q3_shipping_priority",
    "dedup_exact_groups",
    "dedup_minhash_candidates",
    "dedup_semantic_prune",
    "ann_cosine_topk",
    "search_bm25_topk",
    "text_unigram_surprisal",
)


@dataclass
class Check:
    ops: int  # operations this payload stands for (queries for a pass)
    failed_ops: int
    good_rows: int
    expected_rows: int
    detail: str = ""


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit."""
    names = {
        "session.start_s": "s",
        "session.warmup_s": "s",
        "cli.job_s": "s",
        "catalog.pass_untraced_s": "s",
        "pipeline.build_s": "s",
        "pipeline.exec_s": "s",
        "pipeline.jobs": "count",
        "pipeline.stages": "count",
        "sources.read_csv_s": "s",
        "sources.write_csv_s": "s",
        "sources.load_testdata_s": "s",
        "sources.load_testdata_tables": "count",
        "packing.pack_s": "s",
        "packing.requests_s": "s",
        "packing.batches": "count",
        "packing.payload_mb": "MB",
        "packing.fill_ratio": "fraction",
        "translate.call_s": "s",
        "translate.batches": "count",
        "translate.requests_per_krow": "count",
        "parsing.parse_s": "s",
        "parsing.truncated": "count",
        "parsing.repaired": "count",
        "parsing.rows_out": "count",
        "parsing.yield": "fraction",
        "joins.rejoin_s": "s",
        "joins.failed_rows": "count",
        "windows.shift_s": "s",
        "windows.shift_suspects": "count",
        "windows.suspicious": "count",
        "aggregates.summary_s": "s",
    }
    for s in PARSE_STRATEGIES:
        names[f"parsing.strategy.{s}"] = "count"
    for q in MIX_QUERIES:
        names[f"catalog.{q}.build_s"] = "s"
        names[f"catalog.{q}.exec_s"] = "s"
        names[f"catalog.{q}.jobs"] = "count"
    names["trace.overhead_s"] = "s"
    return names


def jobs_and_stages(sc, group: str) -> tuple[int, int]:
    """Jobs and stages Spark ran under one job group."""
    st = sc.statusTracker()
    ids = st.getJobIdsForGroup(group)
    stages = 0
    for j in ids:
        info = st.getJobInfo(j)
        stages += len(info.stageIds) if info else 0
    return len(ids), stages


@contextlib.contextmanager
def job_group(sc, group: str):
    sc.setJobGroup(group, group)
    try:
        yield group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def materialize(df):
    """Persist ``df`` and run it once; returns ``(df, row_count)``."""
    df = df.persist()
    return df, df.count()


def frame_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive hash of a query result, normalized the way the
    oracle comparison normalizes it (floats rounded to 6 places)."""
    from tools.check_correctness import normalize

    df = normalize(pdf.rename(columns=str.lower))
    for c in df.columns:
        if str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
    return rows_hash([tuple(df.columns)] + list(df.itertuples(index=False)))


class FileJobs:
    """Independent ``cli.cmd_translate`` jobs, one fresh 2,640-row CSV
    each, every job writing its single-file CSV into the work dir."""

    ops_per_op, rows_per_op, warmup_ops = 1, FILE_JOB_ROWS, 2

    def __init__(self, spark, work: str, seed: int, capacity: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.capacity = capacity  # how many distinct input CSVs to cut

    def prepare(self) -> None:
        from tools.gen_testdata import gen

        data = os.path.join(self.work, "docs")
        sf = (self.capacity * FILE_JOB_ROWS + 1) / DOCS_PER_SF
        with contextlib.redirect_stdout(io.StringIO()):
            gen(sf, data, self.seed, ["documents"])
        docs = pq.read_table(
            os.path.join(data, "documents.parquet"), columns=["doc_id", "text"]
        ).to_pandas()
        self.docs = pd.DataFrame({
            "description_id": docs["doc_id"].astype(str),
            "english_sentence": docs["text"],
        })

    def input_csv(self, i: int) -> str:
        if i >= self.capacity:
            raise IndexError(f"job {i}: only {self.capacity} inputs were made")
        path = os.path.join(self.work, f"in{i}.csv")
        if not os.path.exists(path):
            lo = i * FILE_JOB_ROWS
            self.docs.iloc[lo:lo + FILE_JOB_ROWS].to_csv(path, index=False)
        return path

    def warm_up(self) -> list[Check]:
        """The first two jobs, checked like every other: after one job the
        next still takes about a tenth more CPU, JIT compilation left out."""
        return [self.check(i, self.run_op(i)) for i in range(self.warmup_ops)]

    def run_op(self, i: int):
        from automotive_translation_pipeline_spark.cli import cmd_translate

        src, dst = self.input_csv(i), os.path.join(self.work, f"out{i}.csv")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            cmd_translate(self.spark, src, "German", dst)
        return src, dst, buf.getvalue()

    def check(self, i: int, payload) -> Check:
        src, dst, printed = payload
        counters = {
            k: int(v)
            for k, v in re.findall(
                r"^(Total rows|Failed|Suspicious|Shift suspects):\s+(\d+)$",
                printed,
                re.M,
            )
        }
        return check_file_job(src, dst, counters)

    def traced(self, i: int, tracer):
        """One iteration on one input: the untraced CLI job, the pipeline
        plan with its build and its sink action timed apart, and the
        layers called one by one. All three outputs must hash equal."""
        from automotive_translation_pipeline_spark.sources.writers import (
            write_output_csv,
        )

        sc = self.spark.sparkContext
        src = self.input_csv(i)
        checks, samples = [], {}

        with tracer.span("cli.job") as job:
            payload = self.run_op(i)
        checks.append(self.check(i, payload))
        want = csv_hash(payload[1])

        out_p = os.path.join(self.work, f"out{i}_pipeline.csv")
        with job_group(sc, f"pipeline-{i}") as g, tracer.span("pipeline"):
            with tracer.span("pipeline.build"):
                observed = self._pipeline_plan(src)
            with tracer.span("pipeline.exec"):
                write_output_csv(observed, out_p, single_file=True)
        samples["pipeline.jobs"], samples["pipeline.stages"] = jobs_and_stages(sc, g)

        out_l = os.path.join(self.work, f"out{i}_layers.csv")
        with tracer.span("layers") as root:
            samples.update(self._layers(src, out_l, tracer))
        samples["trace.overhead_s"] = (root["end"] - root["start"]) - (
            job["end"] - job["start"]
        )

        for label, path in (("pipeline", out_p), ("layers", out_l)):
            got = csv_hash(path)
            ok = got == want
            checks.append(Check(1, 0 if ok else 1, 0, 0,
                                "" if ok else f"{label} output hash differs"))
        return samples, checks

    def _pipeline_plan(self, src: str):
        """``cmd_translate``'s plan up to its sink: ``translate_docs`` with
        the run counters observed on the output."""
        from pyspark.sql import functions as F

        from automotive_translation_pipeline_spark.operators.aggregates import (
            observed_run_counters,
        )
        from automotive_translation_pipeline_spark.plans.pipeline import (
            translate_docs,
        )

        rows = translate_docs(self._todo(src), limit=TOKEN_LIMIT)
        out = rows.select(
            "description_id",
            "english_sentence",
            F.col("translation").alias("translated_sentence"),
            "is_failed",
            "is_suspicious",
            "shift_suspect",
        )
        observed, _ = observed_run_counters(out)
        return observed.select(
            "description_id", "english_sentence", "translated_sentence"
        )

    def _todo(self, src: str):
        """The CLI's scan + non-empty filter + trim, from the public reader."""
        from pyspark.sql import functions as F

        from automotive_translation_pipeline_spark.sources import (
            read_descriptions_csv,
        )

        return (
            read_descriptions_csv(self.spark, src)
            .filter(F.length(F.trim("english_sentence")) > 0)
            .withColumn("english_sentence", F.trim("english_sentence"))
            .withColumn("shard", F.lit("batch"))
            .withColumn("seq", F.col("description_id").cast("long"))
        )

    def _layers(self, src: str, dst: str, tracer) -> dict:
        """Each layer called on its own, its output persisted and counted
        inside its span; the counters are taken between spans."""
        from pyspark.sql import functions as F

        from automotive_translation_pipeline_spark.functions.parsing import (
            parse_strategy,
            parse_translations,
        )
        from automotive_translation_pipeline_spark.functions.predicates import (
            is_suspicious,
            is_truncated,
        )
        from automotive_translation_pipeline_spark.functions.repair import (
            repair_json_udf,
        )
        from automotive_translation_pipeline_spark.operators.aggregates import (
            observed_run_counters,
        )
        from automotive_translation_pipeline_spark.operators.joins import (
            rejoin_results,
        )
        from automotive_translation_pipeline_spark.operators.packing import (
            assign_batches_cumsum,
            materialize_requests,
            with_cost,
        )
        from automotive_translation_pipeline_spark.operators.windows import (
            shift_flags,
        )
        from automotive_translation_pipeline_spark.sources.writers import (
            write_output_csv,
        )
        from automotive_translation_pipeline_spark.translate import (
            translate_requests,
        )

        s, held = {}, []
        with tracer.span("sources.read_csv"):
            todo, rows_in = materialize(self._todo(src))
        held.append(todo)

        with tracer.span("packing.pack"):
            assigned, _ = materialize(assign_batches_cumsum(
                with_cost(todo, "english_sentence"),
                order_col="seq", limit=TOKEN_LIMIT, shard_col="shard",
            ))
        held.append(assigned)
        agg = assigned.agg(
            F.countDistinct("batch_id").alias("b"), F.sum("cost").alias("c")
        ).first()
        s["packing.batches"] = agg["b"]
        s["packing.fill_ratio"] = agg["c"] / (agg["b"] * TOKEN_LIMIT)

        with tracer.span("packing.requests"):
            requests, n_req = materialize(materialize_requests(assigned))
        held.append(requests)
        s["packing.payload_mb"] = requests.agg(
            F.sum(F.length(F.to_json("payload")))
        ).first()[0] / 1e6
        s["translate.requests_per_krow"] = 1000.0 * n_req / rows_in

        with tracer.span("translate.call"):
            responses, s["translate.batches"] = materialize(
                translate_requests(requests)
            )
        held.append(responses)

        with tracer.span("parsing.parse"):
            content = F.col("content")
            repaired = responses.select(
                F.col("custom_id").alias("batch_id"),
                F.when(
                    is_truncated(content),
                    F.coalesce(repair_json_udf(content), content),
                ).otherwise(content).alias("repaired_content"),
            )
            parsed, s["parsing.rows_out"] = materialize(repaired.select(
                "batch_id",
                F.explode(parse_translations(F.col("repaired_content"))).alias(
                    "description_id", "translation"
                ),
            ))
        held.append(parsed)
        trunc = is_truncated(content)
        agg = responses.agg(
            F.count(F.when(trunc, 1)).alias("t"),
            F.count(F.when(trunc & repair_json_udf(content).isNotNull(), 1))
            .alias("r"),
        ).first()
        s["parsing.truncated"], s["parsing.repaired"] = agg["t"], agg["r"]
        s["parsing.yield"] = s["parsing.rows_out"] / rows_in
        by = dict(
            responses.groupBy(parse_strategy(content).alias("k")).count().collect()
        )
        for name in PARSE_STRATEGIES:
            s[f"parsing.strategy.{name}"] = by.get(name, 0)

        with tracer.span("joins.rejoin"):
            expected = assigned.select(
                "batch_id", "description_id", "english_sentence", "seq"
            )
            joined, _ = materialize(rejoin_results(expected, parsed))
        held.append(joined)
        s["joins.failed_rows"] = joined.filter(F.col("translation").isNull()).count()

        with tracer.span("windows.shift"):
            flagged, _ = materialize(shift_flags(
                joined.withColumn("is_failed", F.col("translation").isNull())
                .withColumn("is_suspicious", is_suspicious(F.col("translation"))),
                batch_col="batch_id", order_col="seq",
            ))
        held.append(flagged)
        agg = flagged.agg(
            F.sum(F.col("shift_suspect").cast("long")).alias("sh"),
            F.sum(F.col("is_suspicious").cast("long")).alias("su"),
        ).first()
        s["windows.shift_suspects"], s["windows.suspicious"] = agg["sh"], agg["su"]

        out = flagged.select(
            "description_id",
            "english_sentence",
            F.col("translation").alias("translated_sentence"),
            "is_failed",
            "is_suspicious",
            "shift_suspect",
        )
        with tracer.span("sources.write_csv"):
            write_output_csv(
                out.select("description_id", "english_sentence", "translated_sentence"),
                dst,
                single_file=True,
            )
        with tracer.span("aggregates.summary"):
            observed, obs = observed_run_counters(out)
            observed.write.format("noop").mode("overwrite").save()
            counters = obs.get
        if (counters["shift_suspects"], counters["suspicious"]) != (
            s["windows.shift_suspects"], s["windows.suspicious"]
        ):
            raise AssertionError(f"observed counters {counters} != recount {s}")
        for df in held:
            df.unpersist()
        return s


def csv_hash(path: str) -> str:
    """Order-insensitive hash of a CSV's header and rows."""
    df = pd.read_csv(path, dtype=str, keep_default_na=False, encoding="utf-8-sig")
    return rows_hash([tuple(df.columns)] + list(df.itertuples(index=False)))


def py_is_suspicious(text: str) -> bool:
    """Python twin of ``functions.predicates.is_suspicious`` for a
    non-null translation."""
    from automotive_translation_pipeline_spark.functions.predicates import (
        SUSPICIOUS_TOKENS,
    )

    t = text.strip()
    return (
        t.lower() in SUSPICIOUS_TOKENS
        or t.startswith(("```", "<", "{", "["))
        or len(t) < 3
        or re.fullmatch(r"[0-9]+", t) is not None
    )


def check_file_job(src: str, dst: str, counters: dict[str, int]) -> Check:
    """Every non-failed row is ``reverse(english)``, one row per non-empty
    input, and the printed run counters equal a recount of the CSV."""
    from automotive_translation_pipeline_spark.operators.joins import (
        FAILED_SENTINEL,
    )

    inp = pd.read_csv(src, dtype=str, keep_default_na=False)
    expected = {
        k: v.strip()
        for k, v in zip(inp["description_id"], inp["english_sentence"])
        if v.strip()
    }
    out = pd.read_csv(dst, dtype=str, keep_default_na=False, encoding="utf-8-sig")
    problems, good, failed, suspicious = [], 0, 0, 0
    for did, eng, tr in zip(
        out["description_id"], out["english_sentence"], out["translated_sentence"]
    ):
        if tr == FAILED_SENTINEL:
            failed += 1
            suspicious += 1
            continue
        suspicious += py_is_suspicious(tr)
        if expected.get(did) == eng and tr == eng[::-1]:
            good += 1
        else:
            problems.append(f"row {did}: wrong translation")
    if len(out) != len(expected) or set(out["description_id"]) != set(expected):
        problems.append(f"{len(out)} output rows for {len(expected)} inputs")
    recount = {"Total rows": len(out), "Failed": failed, "Suspicious": suspicious}
    for k, v in recount.items():
        if counters.get(k) != v:
            problems.append(f"counter {k}={counters.get(k)} recount={v}")
    if not 0 <= counters.get("Shift suspects", -1) <= failed:
        problems.append(f"shift suspects {counters.get('Shift suspects')}")
    return Check(1, 1 if problems else 0, good, len(expected), "; ".join(problems[:3]))


class CatalogMix:
    """One operation is one pass over ``MIX_QUERIES``; each query runs as
    ``queries()[name](spark, dir)`` and its result is collected, so every
    pass is compared with the DuckDB oracle."""

    ops_per_op, rows_per_op, warmup_ops = len(MIX_QUERIES), 0, 1
    capacity = sys.maxsize  # a pass can be repeated on the same tables

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.data = os.path.join(work, "tables")
        # Rows-only entries (no oracle) are judged once by their accuracy
        # hook; every checked pass must then reproduce the first one.
        self.accuracy: dict[str, bool] = {}
        self.reference: dict[str, pd.DataFrame] = {}
        self.oracle: dict[str, pd.DataFrame] = {}

    def prepare(self) -> None:
        from tools.gen_testdata import gen

        with contextlib.redirect_stdout(io.StringIO()):
            gen(MIX_SF, self.data, self.seed)

    def warm_up(self) -> list[Check]:
        """Untimed and unchecked: the first pass, run as one query per
        thread beside the DuckDB oracle and the accuracy hooks, so the JVM
        has compiled the queries' code paths before the timed passes.
        Threads are used only here; the checked passes run one query at a
        time from one thread. A rows-only query is left to its accuracy
        hook, which runs the same operator on the same table (for
        ``dedup_semantic_prune`` the two KMeans-bound runs together were
        the warm-up's longest path)."""
        from concurrent.futures import ThreadPoolExecutor

        from automotive_translation_pipeline_spark.accuracy import ACCURACY_CHECKS
        from automotive_translation_pipeline_spark.queries_catalog import (
            oracle_sql,
            queries,
        )

        qs, sql = queries(), oracle_sql()
        rows_only = [q for q in MIX_QUERIES if q not in sql]
        with ThreadPoolExecutor(max_workers=len(MIX_QUERIES) + 2) as pool:
            oracle = pool.submit(self._run_oracle, sql)
            hooks = {
                q: pool.submit(ACCURACY_CHECKS[q], self.spark, self.data)
                for q in rows_only
            }
            warm = [
                pool.submit(lambda q=q: qs[q](self.spark, self.data).toPandas())
                for q in MIX_QUERIES
                if q not in hooks
            ]
            self.oracle = oracle.result()
            self.accuracy = {q: bool(f.result()[0]) for q, f in hooks.items()}
            for f in warm:
                f.exception()  # a warm-up error shows again in checked passes
        return []

    def _run_oracle(self, sql: dict[str, str]) -> dict[str, pd.DataFrame]:
        from tools.check_correctness import duck_conn

        con = duck_conn(self.data)
        con.execute("SET threads TO 1")  # leave the cores to Spark
        try:
            return {q: con.execute(sql[q]).fetchdf() for q in MIX_QUERIES if q in sql}
        finally:
            con.close()

    def run_op(self, i: int):
        """One pass: query name -> result, or the exception it raised."""
        from automotive_translation_pipeline_spark.queries_catalog import queries

        qs, out = queries(), {}
        for q in MIX_QUERIES:
            try:
                out[q] = qs[q](self.spark, self.data).toPandas()
            except Exception as e:  # one failed query fails only itself
                out[q] = e
        return out

    def check(self, i: int, payload) -> Check:
        from tools.check_correctness import compare

        failed, good, expected, notes = 0, 0, 0, []
        for q in MIX_QUERIES:
            got = payload[q]
            if isinstance(got, Exception):
                err, want = f"raised {type(got).__name__}: {got}", None
            elif q in self.accuracy:
                want = self.reference.setdefault(q, got) if self.accuracy[q] else None
                err = compare(got, want) if want is not None else "accuracy check failed"
            else:
                want = self.oracle.get(q)
                err = compare(got, want) if want is not None else "no oracle result"
            n = len(want) if want is not None else 0
            expected += n
            if err:
                failed += 1
                notes.append(f"{q}: {err}"[:300])
            else:
                good += n
        return Check(len(MIX_QUERIES), failed, good, expected, "; ".join(notes))

    def traced(self, i: int, tracer):
        """An untraced pass, then a traced pass that times each query's
        build (the call that returns the DataFrame) apart from its
        execution, then direct ``load_testdata`` calls. The traced pass
        materializes nothing extra, so its overhead is within run-to-run
        noise and can read negative."""
        from automotive_translation_pipeline_spark.queries_catalog import queries
        from automotive_translation_pipeline_spark.sources import load_testdata

        sc, qs, samples = self.spark.sparkContext, queries(), {}
        with tracer.span("catalog.pass_untraced") as plain_span:
            plain = self.run_op(i)
        checks = [self.check(i, plain)]

        traced = {}
        with tracer.span("catalog.pass") as root:
            for q in MIX_QUERIES:
                with job_group(sc, f"q{i}-{q}") as g, tracer.span(f"catalog.{q}"):
                    with tracer.span(f"catalog.{q}.build"):
                        df = qs[q](self.spark, self.data)
                    with tracer.span(f"catalog.{q}.exec"):
                        traced[q] = df.toPandas()
                samples[f"catalog.{q}.jobs"] = jobs_and_stages(sc, g)[0]
        samples["trace.overhead_s"] = (root["end"] - root["start"]) - (
            plain_span["end"] - plain_span["start"]
        )

        for _ in range(3):
            with tracer.span("sources.load_testdata"):
                samples["sources.load_testdata_tables"] = len(
                    load_testdata(self.spark, self.data)
                )

        bad = [
            q for q in MIX_QUERIES
            if isinstance(plain[q], Exception)
            or frame_hash(plain[q]) != frame_hash(traced[q])
        ]
        checks.append(Check(len(MIX_QUERIES), len(bad), 0, 0,
                            f"traced output hash differs: {bad}" if bad else ""))
        return samples, checks
