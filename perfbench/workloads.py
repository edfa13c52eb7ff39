"""The benchmark's workloads.

Each workload prepares its inputs from a seed, runs one warm-up pass
(which a batch or cron job pays in every fresh process; it is part of
set-up) and then timed passes of identical work. Ops only call the
engine's public surface: ``queries.all_queries()[name]`` /
``all_oracles()`` for the query workloads, and the ``pipelines`` entry
points plus ``operators.merge.ParquetTable`` for ``daily_sync``.
"""

from __future__ import annotations

import math
import os
import shutil
import time

import pyarrow.parquet as pq

import ccgp
import tables

CURATION_OPS = ["bpe_encode_token_count", "ann_lsh_planted"]
CURATION_SF = 0.05
DAILY_STAGES = ["ingest", "reads_sync", "accessions", "sheets", "summary"]
DAILY_COUNTERS = [
    "reads_sync.discovered", "reads_sync.samples_linked", "reads_sync.files_matched",
    "reads_sync.orphans", "ingest.files_new", "ingest.files_skipped", "sheets.rows",
    "summary.rows",
]


def canon(rows, cols) -> list[tuple]:
    """Order-insensitive canonical form: columns sorted by name, floats
    at 6 decimals, NULL as ``~`` (the form ``tools/drive_entry.py`` uses)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if v is None:
            return "~"
        if isinstance(v, float):
            return "nan" if math.isnan(v) else f"{v:.6f}"
        return str(v)

    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


class CurationBatch:
    """The curation queries over seeded tables; one op = one query, timed
    from the call to its last row reaching the noop sink."""

    def __init__(self):
        self.ops = CURATION_OPS
        self.results: dict[str, tuple[list[str], list[tuple]]] = {}
        self.errors: dict[str, str] = {}

    def describe(self) -> dict:
        return {"sf": CURATION_SF, "ops": self.ops}

    def prepare(self, work: str, seed: int) -> None:
        self.dir = os.path.join(work, "tables")
        tables.write_tables(self.dir, seed, CURATION_SF)

    def start(self, spark, tracer) -> None:
        from ccgp_data_wrangling_spark.queries import all_queries

        self.spark, self.tracer = spark, tracer
        self.fns = {n: all_queries()[n] for n in self.ops}

    def warm_up(self) -> list[tuple[str, float]]:
        """The same calls, each collected for the oracle check (one run of
        each plan serves both), then one tiny write to the noop sink."""
        ops = self._pass(keep_rows=True)
        self.spark.range(1).write.format("noop").mode("overwrite").save()
        return ops

    def run_pass(self) -> list[tuple[str, float]]:
        return self._pass(keep_rows=False)

    def _pass(self, keep_rows: bool) -> list[tuple[str, float]]:
        # a fixed order, so every pass runs the same work in the same state
        out = []
        for n in self.ops:
            t0 = time.perf_counter()
            try:
                with self.tracer.span(f"op.{n}"):
                    with self.tracer.span(f"op.{n}.build"):
                        df = self.fns[n](self.spark, self.dir)
                    with self.tracer.span(f"op.{n}.exec"):
                        if keep_rows:
                            self.results[n] = (df.columns, [tuple(r) for r in df.collect()])
                        else:
                            df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
                self.errors[n] = f"{type(exc).__name__}: {exc}"[:300]
                out.append((n, None))
                continue
            out.append((n, time.perf_counter() - t0))
        return out

    def rewind(self) -> None:
        """Nothing to restore: a pass reads its tables and writes none."""

    def check(self) -> dict[str, str]:
        """Compare each op's collected rows with its DuckDB oracle;
        returns {op: problem} for the ops that do not match."""
        import duckdb
        from ccgp_data_wrangling_spark.queries import all_oracles

        oracles = all_oracles()
        con = duckdb.connect()
        con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        con.execute(f"SET temp_directory = '{os.path.join(self.dir, 'duckdb.tmp')}'")
        for t in tables.TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
        bad = dict(self.errors)
        for n in self.ops:
            cols, rows = self.results.get(n, (None, None))
            if cols is None:
                bad[n] = "never produced rows"
                continue
            rel = con.execute(oracles[n])
            dcols = [d[0] for d in rel.description]
            drows = rel.fetchall()
            if sorted(cols) != sorted(dcols):
                bad[n] = f"columns {sorted(cols)} != oracle {sorted(dcols)}"
            elif canon(rows, cols) != canon(drows, dcols):
                bad[n] = f"{len(rows)} rows differ from the oracle's {len(drows)}"
        con.close()
        return bad

    def result_rows_total(self) -> int:
        return sum(len(r[1]) for r in self.results.values())

    def layer_counters(self) -> dict[str, float]:
        return dict.fromkeys(DAILY_COUNTERS, 0.0)


class DailySync:
    """The CCGP daily cron cycle over a seeded deployment; one op = one
    day: ingest → reads-sync → accessions → sheets → summary. The
    warm-up runs day 1; every timed pass runs day 2 from the state day 1
    left. The inputs are cumulative, so day 2 also re-delivers all of
    day 1's."""

    TABLES = ("samples", "reads", "ledger", "out")

    def __init__(self):
        self.stats: list[dict] = []
        self.problems: list[str] = []
        self.day1: dict = {}
        self.tables: dict = {}

    def describe(self) -> dict:
        return {"samples": ccgp.N_SAMPLES, "projects": ccgp.N_PROJECTS,
                "lookup_rows": ccgp.LOOKUP_ROWS, "history_sheets": len(ccgp.HISTORY_SHEETS),
                "days": ccgp.N_DAYS, "sheets_per_day": ccgp.SHEETS_PER_DAY,
                "samples_per_sheet": ccgp.SAMPLES_PER_SHEET, "ops": ["daily_cycle"],
                "stages": DAILY_STAGES}

    def prepare(self, work: str, seed: int) -> None:
        self.work = work
        self.world = ccgp.build_world(seed)
        self.world.write_base(work)
        self.inputs = [self.world.write_day(work, d) for d in range(1, ccgp.N_DAYS + 1)]

    def start(self, spark, tracer) -> None:
        from ccgp_data_wrangling_spark.operators.merge import ParquetTable
        from ccgp_data_wrangling_spark.sources.ingest import lookup_csv_dim

        self.spark, self.tracer = spark, tracer
        w = self.work
        self.samples = ParquetTable(spark, os.path.join(w, "samples"), "sample_name")
        self.reads = ParquetTable(spark, os.path.join(w, "reads"), "file_name")
        self.ledger = ParquetTable(spark, os.path.join(w, "ledger"), "file_name")
        self.lookup = lookup_csv_dim(spark, os.path.join(w, "species_lookup.csv"))

    def _read_sheet(self, path: str):
        from ccgp_data_wrangling_spark.sources.ingest import read_submitted_sheet

        df = read_submitted_sheet(self.spark, path)
        return df.toDF(*[c.lstrip("*") for c in df.columns])

    def cycle(self, day: int) -> list[tuple[str, float]]:
        from ccgp_data_wrangling_spark.pipelines import (
            biosample_sheet,
            project_summary,
            run_metadata_ingest,
            run_update_reads,
            sra_sheet,
        )
        from ccgp_data_wrangling_spark.pipelines.metadata_ingest import attach_accessions
        from ccgp_data_wrangling_spark.sources.ingest import read_delimited
        from ccgp_data_wrangling_spark.sources.sinks import write_single_tsv

        spark, sp, inp = self.spark, self.tracer.span, self.inputs[day - 1]
        out = os.path.join(self.work, "out")
        lat, stats = [], {"day": day}

        def stage(name, fn):
            t0 = time.perf_counter()
            with sp(name):
                stats[name] = fn()
            lat.append((name, time.perf_counter() - t0))

        stage("ingest", lambda: run_metadata_ingest(
            spark, spark.read.parquet(inp["drive"]), self.ledger, self.samples,
            self.lookup, self._read_sheet))
        stage("reads_sync", lambda: run_update_reads(
            spark.read.parquet(inp["listing"]), self.reads, self.samples))
        stage("accessions", lambda: attach_accessions(
            self.samples, read_delimited(spark, inp["attributes"])))

        def sheets():
            samples = self.samples.read()
            write_single_tsv(biosample_sheet(samples), os.path.join(out, "biosample.tsv"))
            write_single_tsv(sra_sheet(samples, self.reads.read()), os.path.join(out, "sra.tsv"))

        stage("sheets", sheets)
        stage("summary", lambda: project_summary(self.samples.read()).write.mode(
            "overwrite").parquet(os.path.join(out, "summary")))
        self.stats.append(stats)
        return lat

    def warm_up(self) -> list[tuple[str, float]]:
        """Day 1's cycle; then the tables are copied aside, so every
        timed pass runs day 2 from the same state."""
        lat = self._run_day(1)
        self.day1 = self.stats.pop()
        for t in self.TABLES:
            shutil.copytree(os.path.join(self.work, t), os.path.join(self.work, "mark", t))
        self.fresh = True
        return lat

    def rewind(self) -> None:
        if self.fresh:
            return
        for t in self.TABLES:
            shutil.rmtree(os.path.join(self.work, t))
            shutil.copytree(os.path.join(self.work, "mark", t), os.path.join(self.work, t))
        self.fresh = True

    def run_pass(self) -> list[tuple[str, float]]:
        self.fresh = False
        return self._run_day(2)

    def _run_day(self, day: int) -> list[tuple[str, float]]:
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op.daily_cycle"):
                stages = self.cycle(day)
        except Exception as exc:  # noqa: BLE001 — a failed cycle is counted, not fatal
            self.problems.append(f"day {day}: {type(exc).__name__}: {exc}"[:300])
            self.stats.append({"day": day})
            return [("daily_cycle", None)]
        lat = time.perf_counter() - t0
        self.stats[-1]["rows"] = self._outputs(self.work)
        return [("daily_cycle", lat)] + [(f"stage.{n}", s) for n, s in stages]

    def _outputs(self, root: str) -> dict[str, int]:
        out = os.path.join(root, "out")
        rows = {}
        for sheet in ("biosample", "sra"):
            with open(os.path.join(out, f"{sheet}.tsv")) as fh:
                rows[sheet] = sum(1 for _ in fh) - 1
        rows["summary"] = pq.read_table(os.path.join(out, "summary")).num_rows
        return rows

    def result_rows_total(self) -> int:
        return sum(self.stats[-1]["rows"].values())

    def layer_counters(self) -> dict[str, float]:
        """Counters of the last pass (every pass runs the same day from
        the same state)."""
        st = self.stats[-1]
        rows = st["rows"]
        processed = st["ingest"]["files_ok"] + st["ingest"]["files_failed"]
        n_sheets = len(ccgp.HISTORY_SHEETS) + sum(
            len(d.sheets) for d in self.world.days[: st["day"]])
        m = {f"reads_sync.{k}": float(v) for k, v in st["reads_sync"].items()}
        m.update({
            "ingest.files_new": float(processed),
            "ingest.files_skipped": float(n_sheets - processed),
            "sheets.rows": float(rows["biosample"] + rows["sra"]),
            "summary.rows": float(rows["summary"]),
        })
        return m

    def check(self) -> dict[str, str]:
        problems = list(self.problems)
        if "rows" in self.day1:
            problems += [f"day 1: {p}" for p in self._truth_problems(
                1, self.day1, os.path.join(self.work, "mark"))]
        if self.stats and "rows" in self.stats[-1]:
            problems += self._truth_problems(2, self.stats[-1], self.work)
            problems += self._redelivery_problems()
        return {"daily_cycle": "; ".join(problems[:5])} if problems else {}

    # -- checks (outside the timed phase) ------------------------------

    def _table(self, root: str, name: str):
        """Rows of table ``name`` under ``root``, read once per check."""
        key = (root, name)
        if key not in self.tables:
            self.tables[key] = pq.read_table(os.path.join(root, name)).to_pylist()
        return self.tables[key]

    def _redelivery_problems(self) -> list[str]:
        """Day 2 re-delivers all of day 1's inputs: every row its new
        inputs do not touch must be exactly as day 1 left it."""
        names, keys = self.world.touched(2)
        p = []
        for table, key, touched in (("samples", "sample_name", names),
                                    ("reads", "file_name", keys)):
            before = {r[key]: r for r in self._table(os.path.join(self.work, "mark"), table)}
            after = {r[key]: r for r in self._table(self.work, table)}
            changed = [k for k, r in before.items() if k not in touched and after.get(k) != r]
            if changed:
                p.append(f"re-delivered inputs changed {len(changed)} {table} rows, "
                         f"e.g. {changed[0]}")
        return p

    def _truth_problems(self, day: int, stats: dict, root: str) -> list[str]:
        want = self.world.expected(day)
        p = []
        ok, failed = want["ingest"][day - 1]
        got = stats["ingest"]
        if (got["files_ok"], got["files_failed"]) != (ok, failed):
            p.append(f"ingest ok/failed {got['files_ok']}/{got['files_failed']} != {ok}/{failed}")
        rs = stats["reads_sync"]
        n_orphans = sum(o is None for o in want["owner"].values())
        exp = {"discovered": len(want["owner"]), "samples_linked": want["linked_samples"],
               "files_matched": want["linked_files"], "orphans": n_orphans}
        if rs != exp:
            p.append(f"reads-sync funnel {rs} != {exp}")
        reads = {r["file_name"]: r for r in self._table(root, "reads")}
        if set(reads) != set(want["owner"]):
            p.append(f"reads holds {len(reads)} files, expected {len(want['owner'])}")
        wrong = [k for k, o in want["owner"].items() if k in reads and (
            reads[k]["sample_name"] != o or (reads[k]["orphan"] is False) != (o is not None))]
        if wrong:
            p.append(f"{len(wrong)} files linked wrongly, e.g. {wrong[0]}")
        samples = {r["sample_name"]: r for r in self._table(root, "samples")}
        if set(samples) != set(want["samples"]):
            p.append(f"samples holds {len(samples)} rows, expected {len(want['samples'])}")
        for name, s in want["samples"].items():
            r = samples.get(name)
            if r is None:
                continue
            files = None if r["files"] is None else sorted(r["files"])
            exp_files = None if s.files is None else sorted(s.files)
            if (files, r["ccgp_project_id"], r["ncbi_accession_id"]) != (
                    exp_files, s.project, s.accession) or (
                    name in want["filesize_sum"]
                    and r["filesize_sum"] != want["filesize_sum"][name]):
                p.append(f"sample {name} differs from the planted truth")
                break
        summary = {r["ccgp_project_id"]: [r["n_samples"], r["n_with_files"]]
                   for r in self._table(root, os.path.join("out", "summary"))}
        if summary != want["summary"]:
            p.append("project summary counts differ from the planted truth")
        return p


def make(name: str):
    if name == "curation_batch":
        return CurationBatch()
    if name == "daily_sync":
        return DailySync()
    raise SystemExit(f"unknown workload {name!r}")
