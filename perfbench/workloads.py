"""The benchmark's workloads: inputs, one timed run, output checks and the
per-layer decomposition of a traced run.

A workload object owns its generated inputs. ``run_once`` is one timed run
(what a user pays for one job, or one pass over the query set); it returns
the run's wall seconds split by part (the whole job, or one part per query). ``expected``
derives the correct outputs on DuckDB from the generated files, and
``check_run`` is an untimed run whose outputs are compared with them.
Operations and failures are counted in an ``Ops`` object, so a raised
exception and an output that fails its check both count as a failure.
"""

from __future__ import annotations

import os
import time
import traceback

import duckdb
from pyspark import StorageLevel
from pyspark.sql import functions as F

import gen

NOOP = "noop"


class Ops:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def run(self, label: str, fn, check=None):
        """Count one operation: ``fn()``, then ``check(result)`` when given,
        which returns a list of problems. Returns the result, or None when
        ``fn`` raised or the check found problems."""
        self.attempted += 1
        try:
            out = fn()
            problems = check(out) if check is not None else []
        except Exception:  # the benchmark keeps going and reports the failure
            problems = [traceback.format_exc(limit=4)]
        if problems:
            self.failed += 1
            self.problems.append(f"{label}: " + "; ".join(problems)[:800])
            return None
        return out


def noop(df) -> None:
    df.write.format(NOOP).mode("overwrite").save()


def clear_cache(spark) -> None:
    """Drop every cached plan and check that the CacheManager is empty."""
    spark.catalog.clearCache()
    if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
        raise RuntimeError("CacheManager not empty after clearCache()")


def _non_agent(tagged):
    """The triples of the fast-table branch, as run_ingest selects them:
    Corporate and Personal files feed only the VIAF branch."""
    return tagged.filter(~F.col("branch").isin(["Corporate", "Personal"]))


def _dir_files(path: str) -> list[str]:
    out = []
    for root, _, files in os.walk(path):
        out += [os.path.join(root, f) for f in files if f.startswith("part-")]
    return out


# ---------------------------------------------------------------------------
# ingest_fast — jobs.run_ingest over generated FAST files
# ---------------------------------------------------------------------------


class IngestFast:
    def __init__(self, spark, work: str, seed: int, n_entities: int):
        self.spark, self.seed, self.n_entities = spark, seed, n_entities
        self.in_dir = os.path.join(work, "inputs")
        self.nt_dir = os.path.join(self.in_dir, "nt")
        self.viaf_path = os.path.join(self.in_dir, "viaf.parquet")
        self.out_dir = os.path.join(work, "out")
        self.manifest: dict = {}

    def generate(self) -> None:
        self.manifest = gen.make_fast_inputs(self.in_dir, self.seed, self.n_entities)

    def input_rows(self) -> int:
        return self.manifest["n_triples"]

    def paths(self) -> list[str]:
        from ingest_fast_spark.jobs import EXPECTED_FILES

        return [os.path.join(self.nt_dir, f) for f in EXPECTED_FILES]

    def run_once(self, ops: Ops, tracer=None, expected=None) -> dict[str, float] | None:
        """One run_ingest, timed as a single part; its observe() counters
        must equal the manifest's,
        and with ``expected`` (a callable returning ``self.expected()``'s
        result) the written tables must equal that too."""
        from ingest_fast_spark.jobs import run_ingest

        timed = []

        def run():
            t0 = time.perf_counter()
            viaf = self.spark.read.parquet(self.viaf_path)
            if tracer is None:
                out = run_ingest(self.spark, self.nt_dir, self.out_dir, viaf=viaf)
            else:
                with tracer.span("jobs.run_ingest"):
                    out = run_ingest(self.spark, self.nt_dir, self.out_dir, viaf=viaf)
            timed.append(time.perf_counter() - t0)
            return out

        def check(metrics):
            want = {k: self.manifest[k] for k in ("n_fast_docs", "n_viaf_docs")}
            got = {k: metrics.get(k) for k in want}
            problems = [] if got == want else [f"observed {got}, manifest {want}"]
            return problems + (self._check_tables(expected()) if expected is not None else [])

        clear_cache(self.spark)
        return {"run_ingest": timed[0]} if ops.run("run_ingest", run, check) is not None else None

    def expected(self) -> dict:
        con = duckdb.connect()
        try:
            return {name: con.execute(sql).fetchdf() for name, sql in ingest_oracle(con, self.nt_dir, self.viaf_path).items()}
        finally:
            con.close()

    def check_run(self, ops: Ops, expected) -> None:
        self.run_once(ops, expected=expected)

    def _check_tables(self, expected: dict) -> list[str]:
        import selfcheck
        from ingest_fast_spark.queries import fastq as fq

        got_sql = {
            "fast": fq._sql_doc_str(f"read_parquet('{self.out_dir}/fast/*.parquet')"),
            "viaf": f"""SELECT _id, viaf, lcId, COALESCE(array_to_string(fast, '|'), '') AS fast
                        FROM read_parquet('{self.out_dir}/viaf/*.parquet')""",
        }
        con = duckdb.connect()
        try:
            return [
                f"{name}: {p}"
                for name, sql in got_sql.items()
                for p in selfcheck.compare(name, con.execute(sql).fetchdf(), expected[name])
            ]
        finally:
            con.close()

    # -- traced decomposition ------------------------------------------------

    def prefixes(self):
        """(layer, build) pairs: each build returns the DataFrames whose noop
        materialization, from an empty cache, runs the job up to and
        including that layer. The fast-branch prefixes all start from the
        same rows, the non-agent triples, so a layer's self time is its
        prefix's time minus the previous prefix's; the VIAF branch is timed
        whole, its own scan included, because run_ingest scans the files
        once per branch."""
        from ingest_fast_spark.jobs import scan_tagged_triples
        from ingest_fast_spark.operators import fast_pipeline as fp

        spark, paths, keys = self.spark, self.paths(), ("branch",)

        def tagged():
            return scan_tagged_triples(spark, paths)

        def non_agent():
            return _non_agent(tagged())

        def parsed_cached():
            return fp.filter_triples(non_agent(), keep=keys).persist(StorageLevel.MEMORY_AND_DISK)

        def aggregate():
            parsed = parsed_cached()
            return [fp.aggregate_fast(parsed, F.col("branch"), extra_keys=keys), fp.sameas_index(parsed, extra_keys=keys)]

        def enrich():
            parsed = parsed_cached()
            docs = fp.aggregate_fast(parsed, F.col("branch"), extra_keys=keys)
            enriched = fp.enrich_with_sameas(docs, fp.sameas_index(parsed, extra_keys=keys), extra_keys=keys)
            return [enriched.filter(~((F.col("branch") == "Event") & (F.size("sameAsViaf") > 0)))]

        def viaf():
            agent = tagged().filter(F.col("branch").isin(list(fp.AGENT_TYPES)))
            return [fp.build_viaf_updates_tagged(agent, spark.read.parquet(self.viaf_path))]

        return [
            ("sources.nt.scan_parse", lambda: [non_agent()]),
            ("operators.fast_pipeline.filter", lambda: [fp.filter_triples(non_agent(), keep=keys)]),
            ("operators.fast_pipeline.aggregate", aggregate),
            ("operators.fast_pipeline.enrich", enrich),
            ("operators.fast_pipeline.merge", lambda: [fp.build_fast_table_tagged(non_agent())]),
            ("operators.fast_pipeline.viaf", viaf),
        ]

    def timed_write(self, tracer) -> int:
        """The parquet write alone: build both tables as run_ingest does,
        materialize them untimed with ``localCheckpoint`` (which keeps the
        partitioning the write would see, so as many files are written),
        then time only their writes (span ``jobs.write``). Returns the
        number of part files written."""
        from ingest_fast_spark.jobs import scan_tagged_triples
        from ingest_fast_spark.operators import fast_pipeline as fp

        clear_cache(self.spark)
        tagged = scan_tagged_triples(self.spark, self.paths())
        agent = tagged.filter(F.col("branch").isin(list(fp.AGENT_TYPES)))
        tables = {
            "fast": fp.build_fast_table_tagged(_non_agent(tagged)).localCheckpoint(),
            "viaf": fp.build_viaf_updates_tagged(agent, self.spark.read.parquet(self.viaf_path)).localCheckpoint(),
        }
        out = os.path.join(os.path.dirname(self.out_dir), "write")
        with tracer.span("jobs.write"):
            for name, df in tables.items():
                df.write.mode("overwrite").parquet(os.path.join(out, name))
        clear_cache(self.spark)
        return sum(len(_dir_files(os.path.join(out, name))) for name in tables)

    def layer_counts(self, ops: Ops) -> dict:
        """Counts and useful-outcome ratios, from extra untimed jobs; the
        scan's triple count is checked against the generator's."""
        from ingest_fast_spark.jobs import scan_tagged_triples
        from ingest_fast_spark.operators import fast_pipeline as fp

        spark, paths, keys = self.spark, self.paths(), ("branch",)
        lines = spark.read.text(paths).count()
        tagged = scan_tagged_triples(spark, paths)
        want = self.manifest["n_triples"]
        triples = ops.run(
            "scanned triples", tagged.count,
            lambda n: [] if n == want else [f"scanned {n} triples, generated {want}"],
        ) or 0
        parsed = fp.filter_triples(_non_agent(tagged), keep=keys).persist(StorageLevel.MEMORY_AND_DISK)
        records = parsed.count()
        docs = fp.aggregate_fast(parsed, F.col("branch"), extra_keys=keys)
        probes = docs.select(
            "branch", F.explode(F.array_union("sameAsViaf", "sameAsLc")).alias("uri")
        ).filter(F.col("uri").contains("/"))
        index = fp.sameas_index(parsed, extra_keys=keys).select("branch", F.col("subject").alias("uri"))
        n_probes = probes.count()
        n_hits = probes.join(index, ["uri", "branch"]).count()
        agent = tagged.filter(F.col("branch").isin(list(fp.AGENT_TYPES)))
        links = fp.derive_other_id(fp.filter_triples(agent))
        matched = fp.viaf_lookup_join(links, spark.read.parquet(self.viaf_path)).select("fast_id").distinct()
        n_links = links.count()
        n_matched = links.join(matched, "fast_id", "left_semi").count()
        clear_cache(spark)
        files = _dir_files(os.path.join(self.out_dir, "fast")) + _dir_files(os.path.join(self.out_dir, "viaf"))
        return {
            "sources.nt.triples": float(triples),
            "sources.nt.dropped_lines": float(lines - triples),
            "operators.fast_pipeline.records": float(records),
            "operators.fast_pipeline.enrich_hit_frac": n_hits / n_probes if n_probes else 0.0,
            "operators.fast_pipeline.viaf_match_frac": n_matched / n_links if n_links else 0.0,
            "jobs.write_mb": sum(os.path.getsize(p) for p in files) / 1e6,
            "jobs.write_files": float(len(files)),
        }


_MARK = "__perfbench_lines__"


def _from_table(sql: str, name: str) -> str:
    """Point a fastq oracle CTE chain built over the one-line ``[_MARK]``
    at the registered table ``lines_src_<name>`` instead of a VALUES list."""
    values = f"(VALUES ('{_MARK}'))"
    if sql.count(values) != 1:
        raise ValueError("the fastq oracle builders no longer inline a VALUES list")
    return sql.replace(values, f"(SELECT value FROM lines_src_{name})")


def _merged_with_zero_weight(sql: str) -> str:
    """``_sql_merged``'s SQL with its record weight counting no array
    characters as 0, the way merge_fast and its docstring count them.
    DuckDB's ``array_to_string`` of an empty list is NULL, so in fastq's
    weight a record with four empty arrays weighs NULL, sorts last, and the
    tie-break on the type name replaces the length rule."""
    arrays = "array_to_string(list_concat(list_concat(altLabel, sameAsLc), list_concat(sameAsViaf, normalized)), ',')"
    if sql.count(f"length({arrays})") != 1:
        raise ValueError("the fastq merge weight no longer has the expected form")
    return sql.replace(f"length({arrays})", f"length(COALESCE({arrays}, ''))")


def ingest_oracle(con, nt_dir: str, viaf_path: str) -> dict:
    """Register the generated files with DuckDB and return, per table the
    job writes, SQL that re-derives it from the inputs, built from the
    ``_sql_*`` oracle builders of ``queries/fastq.py``."""
    import pandas as pd
    from ingest_fast_spark.operators.fast_pipeline import FILE_TYPES
    from ingest_fast_spark.queries import fastq as fq

    sfx = {t: t.lower()[:3] for t in FILE_TYPES.values()}
    for stem, type_name in FILE_TYPES.items():
        with open(os.path.join(nt_dir, f"{stem}.nt"), encoding="utf-8") as f:
            lines = f.read().split("\n")[:-1]
        con.register(f"lines_src_{sfx[type_name]}", pd.DataFrame({"value": lines}))

    fast_types = [t for t in FILE_TYPES.values() if t not in ("Corporate", "Personal")]
    chains = ",\n".join(_from_table(fq._sql_branch(sfx[t], [_MARK], t), sfx[t]) for t in fast_types)
    union = "\n  UNION ALL ".join(
        f"SELECT * FROM enriched_{sfx[t]}" + (" WHERE len(sameAsViaf) = 0" if t == "Event" else "")
        for t in fast_types
    )
    fast_want = f"""
    WITH {chains},
    unioned AS (SELECT * FROM ({union}) WHERE fast IS NOT NULL),
    {_merged_with_zero_weight(fq._sql_merged('unioned'))[1:]}
    {fq._sql_doc_str('merged')}"""

    agent = ("Corporate", "Event", "Personal")
    parsed = ",\n".join(_from_table(fq._sql_parsed([_MARK], f"_{sfx[t]}"), sfx[t]) for t in agent)
    parsed_union = " UNION ALL ".join(f"SELECT * FROM parsed_{sfx[t]}" for t in agent)
    viaf_want = f"""
    WITH {parsed},
    viaf AS (SELECT * FROM read_parquet('{viaf_path}')),
    links AS (
      SELECT id AS fast_id,
             COALESCE(string_split(sameAsLc, '/')[-1], string_split(sameAsViaf, '/')[-1]) AS otherId
      FROM ({parsed_union})
      WHERE rec_type = 'fast' AND COALESCE(sameAsLc, sameAsViaf) IS NOT NULL
    ),
    matches AS (
      SELECT DISTINCT v._id, l.fast_id FROM links l JOIN viaf v ON v.viaf = l.otherId
      UNION
      SELECT DISTINCT v._id, l.fast_id FROM links l JOIN viaf v ON v.lcId = l.otherId
    ),
    new_ids AS (SELECT _id, list(fast_id) AS _new_fast FROM matches GROUP BY _id)
    SELECT v._id, v.viaf, v.lcId,
           COALESCE(array_to_string(list_sort(list_distinct(list_concat(
             COALESCE(v.fast, CAST([] AS BIGINT[])),
             COALESCE(n._new_fast, CAST([] AS BIGINT[]))))), '|'), '') AS fast
    FROM viaf v LEFT JOIN new_ids n ON v._id = n._id"""
    return {"fast": fast_want, "viaf": viaf_want}


# ---------------------------------------------------------------------------
# query_mix — short registry queries through the noop sink
# ---------------------------------------------------------------------------

# Query -> the tables it reads (for rows_per_s). Every query here has a
# DuckDB oracle in the registry.
QUERY_MIX = {
    "q18_large_orders": ("customer", "orders", "lineitem"),
    "window_running_agg": ("events",),
    "multimodal_png_roundtrip": ("documents",),
    "text_html_extract": ("documents",),
    "dedup_minhash_lsh": ("documents",),
    "dedup_cluster_canonical": ("documents",),
}


class QueryMix:
    def __init__(self, spark, work: str, seed: int, scale: float):
        self.spark, self.seed, self.scale = spark, seed, scale
        self.data_dir = os.path.join(work, "tables")
        self.manifest: dict = {}

    def generate(self) -> None:
        self.manifest = gen.make_tables(self.data_dir, self.seed, self.scale)

    def input_rows(self) -> int:
        rows = {t: v["rows"] for t, v in self.manifest["tables"].items()}
        return sum(rows[t] for tables in QUERY_MIX.values() for t in tables)

    def run_once(self, ops: Ops, tracer=None) -> dict[str, float] | None:
        """One pass over the queries, each query a timed part."""
        from ingest_fast_spark.queries import QUERIES

        def plain(name):
            noop(QUERIES[name](self.spark, self.data_dir))
            return True

        def traced(name):
            with tracer.span(f"queries.{name}"):
                with tracer.span("queries.build"):
                    df = QUERIES[name](self.spark, self.data_dir)
                with tracer.span("queries.exec"):
                    noop(df)
            return True

        clear_cache(self.spark)
        one = plain if tracer is None else traced
        parts, ok = {}, True
        for name in QUERY_MIX:
            t0 = time.perf_counter()
            ok = ops.run(name, lambda: one(name)) is not None and ok
            parts[name] = time.perf_counter() - t0
        return parts if ok else None

    def expected(self) -> dict:
        """Each query's registry oracle, run on DuckDB over the same files."""
        from ingest_fast_spark.queries import ORACLES

        con = duckdb.connect()
        try:
            for t in self.manifest["tables"]:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet')")
            return {name: con.execute(ORACLES[name]).fetchdf() for name in QUERY_MIX}
        finally:
            con.close()

    def check_run(self, ops: Ops, expected) -> None:
        """Collect each query's rows and compare them with its oracle's
        (``selfcheck.compare``); ``expected`` returns ``self.expected()``'s
        result."""
        import selfcheck
        from ingest_fast_spark.queries import QUERIES

        clear_cache(self.spark)
        for name in QUERY_MIX:
            ops.run(
                name,
                lambda: QUERIES[name](self.spark, self.data_dir).toPandas(),
                lambda got: selfcheck.compare(name, got, expected()[name]),
            )
        clear_cache(self.spark)


def warm_up(wl, ops: Ops, plain_runs: int) -> None:
    """Untimed runs before timing: the cold first run, whose outputs are
    checked against what DuckDB derives in a thread meanwhile, then
    ``plain_runs`` more while the JVM keeps warming up."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as pool:
        wl.check_run(ops, pool.submit(wl.expected).result)
    for _ in range(plain_runs):
        wl.run_once(ops)
