"""The three workloads, as run by the measured process.

Each is a closed loop with one client. ``run`` does the measured work
and keeps the outputs; ``check`` compares the outputs with the expected
results after measurement ends; ``layers`` turns the trace into the
per-layer metrics. In the traced run every call into a package module
is a span named after the module layer (``sources``, ``operators``,
``plans``, ``streaming``, ``cli``, ``entry``): the workload's own calls
are spans where it makes them, and the functions the program calls
itself are wrapped (``Workload.functions``, see ``Tracer.instrument``).
"""

from __future__ import annotations

import json
import os
import re
import time
import traceback
from argparse import Namespace

import oracle
from metrics import median
from tracing import Tracer

# The 137 ``queries()`` names of the commit this benchmark was written
# for. A pinned name that the program no longer serves is a failed
# operation, so deleted work cannot read as a speed-up.
PINNED_QUERIES = """
acctbal_quartiles approx_quantile_bounds asof_last_purchase
banded_components_refinement bigram_lm_ppl bigram_lm_ppl_column
chunk_documents cms_heavy_hitters corpus_shuffle cube_event_stats
curate_pipeline curate_pipeline_full curate_pipeline_rep
customers_with_orders customers_without_orders daily_event_metrics
date_arith_orders decontam_bloom decontam_docs decontam_fuzzy
decontam_ngram decontam_shuffle dedup_exact distinct_event_dates
doc_fingerprint dsir_resample dsir_scheme_consistency dsir_scores
embedding_covariance embedding_neardup embedding_pca_invariants
embedding_quantize embedding_topk embedding_topk_ivf
embedding_topk_ivf_indexed except_users explode_token_positions
filter_project_part fuzzy_contam_pairs global_index gopher_filter
gopher_stats group_quota_cap group_quota_cap_sparse grouping_sets_revenue
hash_split hll_bounds hourly_histogram incremental_neardup_recall
intersect_users ivf_pca_composed ivf_recall json_props_stats lang_id
large_orders_having latest_event_date lineitem_stats minhash_neardup
minhash_recall multimodal_bytes multimodal_decode nb_lang_predict
nb_scheme_consistency neardup_components neardup_dedup_keep
neardup_route_auto ngram_jaccard order_count_distribution
order_priority_late pair_density_profile pca_evr_bound pii_scrub
pivot_priority_status ppl_buckets ppl_cms_bound ppl_pruned
pricing_summary profile_orders promo_revenue_share quality_scores
range_hist_avg range_join_error_window range_reagg_busiest
range_reagg_routes range_series_daily region_nation_revenue
repetition_2gram_column repetition_stats revenue_rank_by_nation
revenue_topk rich_customers_by_nation rollup_order_stats
running_customer_revenue salted_join_skew segment_repetition
semdedup_incremental semdedup_keep semdedup_pairs semdedup_pca_composed
semdedup_stats seq_packing sessionize shipping_volume_nations
simhash_exactdup_consistency simhash_groups simhash_neardup
simhash_recall skew_orders skew_safe_distinct span_dup_detect
span_dup_stats span_strip span_strip_incremental span_strip_indexed
status_change_events string_funcs_part suppliers_above_avg
table_diff_docs temperature_mix term_df text_stats tfidf_top_terms
token_budget top_3gram_stats top_transitions topk_customers
tumbling_window_agg union_distinct_users unpivot_lineitem_metrics
user_count_hll user_event_gaps user_first_last user_traffic_fullouter
validate_orders value_quantiles value_quantiles_approx weighted_mix
""".split()

# These two write an index cache under a fixed absolute path outside
# the working tree (``_cached_ivf_index``), which a benchmark run may
# not do. They are reported as not run on every query_mix run.
WRITES_OUTSIDE_TREE = ("embedding_topk_ivf_indexed", "ivf_pca_composed")

# Every fifteenth runnable name in sorted order: the whole list takes
# ~3 minutes a pass on 4 cores, far beyond one run's time budget.
QUERY_STRIDE = 15


def measured_queries() -> list[str]:
    runnable = sorted(n for n in PINNED_QUERIES if n not in WRITES_OUTSIDE_TREE)
    return runnable[::QUERY_STRIDE]


STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
TABLES = STAR_TABLES + ("events", "documents", "embeddings")
# A query's family is the most specific kind of table it reads.
FAMILIES = (("embeddings", "embedding"), ("documents", "text"), ("events", "events"))


def family_of(sources: list[str]) -> str:
    """Family from file paths or plan texts naming ``<table>.parquet``."""
    tables = {m for s in sources for m in re.findall(r"(\w+)\.parquet", s)}
    for table, fam in FAMILIES:
        if table in tables:
            return fam
    return "relational"


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


PKG = "wroclaw_bike_stats_spark"


def _file_stamps(dirs) -> dict[tuple[str, float], int]:
    """(path, mtime) -> size of every file under ``dirs``."""
    out = {}
    for top in dirs:
        for root, _, files in os.walk(top):
            for f in files:
                path = os.path.join(root, f)
                out[(path, os.path.getmtime(path))] = os.path.getsize(path)
    return out


class Workload:
    # span name -> module defining the function; wrapped in the traced run
    functions: dict[str, str] = {}

    def __init__(self, spark, tracer: Tracer, plan: dict) -> None:
        self.spark = spark
        self.tr = tracer
        self.plan = plan
        tracer.instrument(self.functions)
        self.cold_s = 0.0
        self.ops: list[float] = []
        self.reads: list[float] = []
        self.attempted = 0
        self.failures: list[str] = []
        self.layers_out: dict[str, float] = {}

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def spans(self, name: str):
        return [s for s in self.tr.spans if s.name == name]

    def op_totals(self) -> dict:
        """Spark counts over every span of the measured phase."""
        roots = [s for s in self.tr.spans if s.parent is None]
        return self.tr.totals([x for r in roots for x in self.tr.subtree(r)])


# --- bike_daily ------------------------------------------------------------------


class BikeDaily(Workload):
    """The reference's cron: ingest one day's rides, compute that day's
    metrics, merge them into the year document; then UI range views."""

    # the cron path's steps, as ``cli._load_csvs`` and ``cli.cmd_metrics``
    # call them
    functions = {
        "sources.read_raw_rides": f"{PKG}.sources.rides_csv",
        "sources.read_stations": f"{PKG}.sources.stations_csv",
        "operators.transform_rides": f"{PKG}.operators.transform",
        "operators.idempotent_append": f"{PKG}.operators.upsert",
        "cli.read_table": f"{PKG}.cli",
        "cli.write_next_version": f"{PKG}.cli",
        "plans.compute_daily_metrics": f"{PKG}.plans.daily_metrics",
        "plans.write_year_file": f"{PKG}.plans.daily_metrics",
    }

    def run(self) -> None:
        from wroclaw_bike_stats_spark import cli
        from wroclaw_bike_stats_spark.plans import daily_metrics as dm
        from wroclaw_bike_stats_spark.plans import range_metrics as rm

        p, tr, spark = self.plan, self.tr, self.spark
        # ``cli metrics --date <day>`` after each day's load, as the cron runs it
        metrics_args = {"table_dir": p["table"], "year": None, "latest": False,
                        "out": p["year_file"],
                        "metrics_dir": os.path.dirname(p["year_file"])}
        self.day_metrics: list[tuple[str, dict | None]] = []
        self.written = []
        for i, c in enumerate(p["cycles"]):
            t0 = time.perf_counter()
            try:
                with tr.span("cycle", day=c["day"], redelivery=c["redelivery"]):
                    # ``cli rides load-folder`` on the day's one file
                    cli._load_csvs(spark, [c["csv"]], p["stations"], p["table"],
                                   transform=True, load=True)
                    cli.cmd_metrics(Namespace(day=c["day"], **metrics_args))
            except Exception:  # noqa: BLE001 - a failed cycle is counted, the loop goes on
                self.fail(f"cycle {c['day']}: {traceback.format_exc(limit=3)}")
                self.day_metrics.append((c["day"], None))
                continue
            elapsed = time.perf_counter() - t0
            if i == 0:
                self.cold_s = elapsed
            else:
                self.ops.append(elapsed)
            with open(p["year_file"], encoding="utf-8") as f:
                # a day missing from the document compares as no metrics
                self.day_metrics.append((c["day"], json.load(f)["days"].get(c["day"], {})))
            newest = os.path.join(p["table"], f"v{cli._versions(p['table'])[-1]}")
            self.written.append(_dir_bytes(newest))

        with tr.span("plans.load_year_metrics"):
            t0 = time.perf_counter()
            daily = dm.load_year_metrics(spark, p["year_file"])
            self.load_year_s = time.perf_counter() - t0
        self.views = []
        for i, v in enumerate(p["views"]):
            a, b, metric = v["start"], v["end"], v["metric"]
            t0 = time.perf_counter()
            try:
                with tr.span("view"):
                    with tr.span("plans.range_metric_series"):
                        series = rm.range_metric_series(daily, a, b, metric).collect()
                    with tr.span("plans.range_histogram_avg"):
                        hist = rm.range_histogram_avg(daily, a, b).collect()
                    with tr.span("plans.range_busiest_stations"):
                        busiest = rm.range_busiest_stations(daily, a, b).collect()
                    with tr.span("plans.range_top_routes"):
                        routes = rm.range_top_routes(daily, a, b).collect()
            except Exception:  # noqa: BLE001
                self.fail(f"view {v}: {traceback.format_exc(limit=3)}")
                self.views.append((v, None))
                continue
            elapsed = time.perf_counter() - t0
            # The first view, like the first cycle, runs its plans cold.
            if i == 0:
                self.cold_s += elapsed
            else:
                self.reads.append(elapsed)
            self.views.append((v, {
                "series": [[r[0], r[1]] for r in series],
                "histogram": [[r[0], r[1]] for r in hist],
                "busiest": [list(r) for r in busiest],
                "routes": [list(r) for r in routes],
            }))

    def check(self) -> None:
        p = self.plan
        for day, m in self.day_metrics:
            self.attempted += 1
            if m is None:
                continue
            diff = oracle.same(m, p["expected_metrics"][day], day)
            if diff:
                self.fail(f"metrics {day}: {diff[:3]}")
        with open(p["year_file"], encoding="utf-8") as f:
            days = json.load(f)["days"]
        for v, got in self.views:
            self.attempted += 1
            if got is None:
                continue
            want = oracle.range_view(days, v["start"], v["end"], v["metric"])
            diff = oracle.same(got, want, f"view {v['start']}..{v['end']}")
            if diff:
                self.fail(f"{diff[:3]}")
        self.attempted += 1
        from wroclaw_bike_stats_spark import cli
        from pyspark.sql import functions as F

        table = cli.read_table(self.spark, p["table"])
        rows, uids = table.agg(F.count("*"), F.countDistinct("uid")).first()
        if not rows == uids == p["expected_rows"]:
            self.fail(f"table rows {rows}, distinct uids {uids}, "
                      f"expected {p['expected_rows']}")

    def layers(self) -> None:
        out, tr = self.layers_out, self.tr
        out["io.write_amp"] = sum(self.written) / self.plan["csv_bytes"]
        out["cli.write_next_version.bytes"] = median(self.written)
        if not tr.enabled:
            return
        cycles = self.spans("cycle")

        def per_cycle(names, key=None):
            vals = []
            for c in cycles:
                sub = [s for s in tr.subtree(c) if s.name in names]
                if key is None:
                    vals.append(sum(s.seconds for s in sub))
                else:
                    vals.append(tr.totals([x for s in sub for x in tr.subtree(s)])[key])
            return median(vals)

        load = {"sources.read_raw_rides", "sources.read_stations",
                "operators.transform_rides", "operators.idempotent_append"}
        out["operators.load_plan_s"] = per_cycle(load)
        out["cli.read_table.s"] = per_cycle({"cli.read_table"})
        w = {"cli.write_next_version"}
        out["cli.write_next_version.s"] = per_cycle(w)
        out["cli.write_next_version.jobs"] = per_cycle(w, "jobs")
        out["cli.write_next_version.tasks"] = per_cycle(w, "tasks")
        cdm = {"plans.compute_daily_metrics"}
        out["plans.compute_daily_metrics.s"] = per_cycle(cdm)
        out["plans.compute_daily_metrics.jobs"] = per_cycle(cdm, "jobs")
        out["plans.compute_daily_metrics.rows_read"] = per_cycle(cdm, "input_records")
        out["plans.write_year_file.s"] = per_cycle({"plans.write_year_file"})
        out["plans.load_year_metrics.s"] = self.load_year_s
        for f in ("range_metric_series", "range_histogram_avg",
                  "range_busiest_stations", "range_top_routes"):
            out[f"plans.{f}.s"] = median([s.seconds for s in self.spans(f"plans.{f}")])
        out["plans.range.jobs_per_view"] = median(
            [tr.totals(tr.subtree(v))["jobs"] for v in self.spans("view")]
        )


# --- status_stream -------------------------------------------------------------------


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class StatusStream(Workload):
    """The per-minute status cron: one snapshot lands in the landing
    directory, ``run_available_now`` drains it, and the event log is
    read back (``cli pipeline`` prints its row count)."""

    def run(self) -> None:
        from wroclaw_bike_stats_spark.streaming.status_stream import run_available_now

        p, tr = self.plan, self.tr
        os.makedirs(p["landing"])
        self.counts: list[int | None] = []
        self.snapshot_bytes = 0
        dirs = (p["events"], p["state"], p["checkpoint"])
        # the event log's history was not written by this run
        self.written, seen = 0, set(_file_stamps(dirs))
        for i, s in enumerate(p["snapshots"]):
            target = os.path.join(p["landing"], os.path.basename(s["path"]))
            self.snapshot_bytes += os.path.getsize(s["path"])
            os.replace(s["path"], target)
            try:
                t0 = time.perf_counter()
                with tr.span("snapshot", ts=s["ts"]):
                    with tr.span("streaming.run_available_now"):
                        events = run_available_now(
                            self.spark, p["landing"], p["events"], p["state"], p["checkpoint"]
                        )
                t1 = time.perf_counter()
                # ``cli pipeline`` prints the event log's row count
                with tr.span("status_stream.read_events"):
                    n = events.count()
                t2 = time.perf_counter()
            except Exception:  # noqa: BLE001
                self.fail(f"snapshot {s['ts']}: {traceback.format_exc(limit=3)}")
                self.counts.append(None)
                continue
            self.counts.append(n)
            if i == 0:
                self.cold_s = t1 - t0
            else:
                self.ops.append(t1 - t0)
                self.reads.append(t2 - t1)
            for key, size in _file_stamps(dirs).items():
                if key not in seen:
                    seen.add(key)
                    self.written += size

    def check(self) -> None:
        p = self.plan
        rows = [tuple(r) for r in self.spark.read.parquet(p["events"]).select(
            "timestamp", "bike_id", "event_type", "station_name", "station_id",
            "lat", "lon", "bike_type", "battery").collect()]
        got = oracle.events_by_snapshot(rows)
        want = {ts: oracle.events_by_snapshot(evs).get(ts, {})
                for ts, evs in p["expected_events"].items()}
        self.n_events = len(rows) - p["history_events"]
        for i, s in enumerate(p["snapshots"]):
            self.attempted += 1
            if self.counts[i] is None:
                continue
            g, w = got.get(s["ts"], {}), want.get(s["ts"], {})
            if g != w:
                extra, lost = (g - w), (w - g)
                self.fail(f"events at {s['ts']}: {sum(extra.values())} unexpected "
                          f"{list(extra)[:2]}, {sum(lost.values())} missing {list(lost)[:2]}")
        expected_total = p["history_events"] + sum(len(v) for v in p["expected_events"].values())
        if self.counts and self.counts[-1] is not None and self.counts[-1] != expected_total:
            self.fail(f"event log count {self.counts[-1]} != {expected_total}")

    def layers(self) -> None:
        out, tr, p = self.layers_out, self.tr, self.plan
        out["io.write_amp"] = self.written / self.snapshot_bytes
        n = max(len(p["snapshots"]) - 1, 1)
        out["status_stream.events_per_snapshot"] = getattr(self, "n_events", 0) / n
        out["status_stream.event_files"] = sum(
            1 for _, _, fs in os.walk(p["events"]) for f in fs if f.endswith(".parquet")
        )
        if not tr.enabled:
            return
        snaps = self.spans("snapshot")[1:]
        start, add, overhead, stop, jobs = [], [], [], [], []
        for sp in snaps:
            prog = [x for x in tr.progress
                    if sp.t0 <= _iso_epoch(x["timestamp"]) <= sp.t1]
            jobs.append(tr.totals(tr.subtree(sp))["jobs"])
            if not prog:
                continue
            first = min(_iso_epoch(x["timestamp"]) for x in prog)
            last_end = max(_iso_epoch(x["timestamp"]) + x["duration_ms"].get("triggerExecution", 0) / 1000
                           for x in prog)
            start.append(first - sp.t0)
            stop.append(sp.t1 - last_end)
            a = sum(x["duration_ms"].get("addBatch", 0) for x in prog)
            t = sum(x["duration_ms"].get("triggerExecution", 0) for x in prog)
            add.append(a)
            overhead.append(t - a)
        out["streaming.start_s"] = median(start)
        out["streaming.add_batch_ms"] = median(add)
        out["streaming.trigger_overhead_ms"] = median(overhead)
        out["streaming.stop_s"] = median(stop)
        out["status_stream.jobs_per_snapshot"] = median(jobs)


# --- query_mix ----------------------------------------------------------------------


class QueryMix(Workload):
    """``queries()`` entries over the bundled TPC-H-ish tables: a cold
    pass in the fresh session (it pays shared-asset builds and first
    touches), then warm passes, each in its own seeded order."""

    def run(self) -> None:
        import __spark_entry__ as entry

        self.entry = entry
        served = entry.queries()
        self.missing = [n for n in PINNED_QUERIES if n not in served]
        self.results: dict[tuple[str, str], list] = {}
        self.input_files: dict[str, list[str]] = {}
        self.latency: dict[tuple[str, str], list[float]] = {}
        sf = self.plan["sf_dir"]
        passes = [("cold", self.plan["cold_order"])]
        passes += [("warm", order) for order in self.plan["warm_orders"]]
        for i, (phase, order) in enumerate(passes):
            t_pass = time.perf_counter()
            for name in order:
                if name in served:
                    self._query(served[name], name, phase, sf)
            elapsed = time.perf_counter() - t_pass
            if i == 0:
                self.cold_s = elapsed
            else:
                self.ops.append(elapsed)
        self.shared = entry.shared_build_sec()

    def _query(self, fn, name: str, phase: str, sf: str) -> None:
        tr = self.tr
        t0 = time.perf_counter()
        try:
            with tr.span("query", query=name, phase=phase):
                with tr.span("entry.plan_build"):
                    df = fn(self.spark, sf)
                with tr.span("execute_collect"):
                    pdf = df.toPandas()
        except Exception:  # noqa: BLE001 - a failed query is counted, the pass goes on
            self.fail(f"{phase} {name}: {traceback.format_exc(limit=3)}")
            return
        elapsed = time.perf_counter() - t0
        self.latency.setdefault((phase, name), []).append(elapsed)
        if phase == "warm":
            self.reads.append(elapsed)
        self.results.setdefault((phase, name), []).append(pdf)
        if tr.enabled and phase == "cold":
            self.input_files[name] = list(df.inputFiles())

    def check(self) -> None:
        import duckdb

        entry = self.entry
        # The PCA oracles fit models on fixed dataset paths outside the
        # working tree; take the module's documented no-data fallback so
        # those entries are checked cold against warm instead.
        entry._PCA_ORACLE_CACHE.update(cte=None, sql=None, evr_sql=None)
        sqls = entry.oracle_sql()
        duck = duckdb.connect()
        for t in TABLES:
            duck.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                         f"read_parquet('{self.plan['sf_dir']}/{t}.parquet')")
        for name in self.missing:
            self.attempted += 1
            self.fail(f"{name}: no longer served by queries()")
        for name in self.plan["cold_order"]:
            if name in self.missing:
                continue
            cold = self.results.get(("cold", name))
            if name in sqls:
                want = oracle.normalize(duck.execute(sqls[name]).df())
            else:
                want = oracle.normalize(cold[0]) if cold else None
            runs = 1 + len(self.plan["warm_orders"])
            got = [(ph, df) for ph in ("cold", "warm") for df in self.results.get((ph, name), [])]
            self.attempted += runs
            for phase, df in got:
                if want is None:
                    break
                diff = oracle.compare_normalized(oracle.normalize(df), want)
                if diff:
                    self.fail(f"{phase} {name}: {diff[:300]}")
        duck.close()

    def layers(self) -> None:
        out, tr = self.layers_out, self.tr
        out["entry.shared_build_s"] = float(sum(self.shared.values()))
        out["entry.shared_assets"] = len(self.shared)
        if not tr.enabled:
            return
        # The tables a query reads: its plan's input files, plus the
        # scans of every SQL execution inside its cold-pass span (eager
        # jobs and shared-asset builds read tables the final plan no
        # longer names).
        family = {}
        for q in self.spans("query"):
            if q.attrs["phase"] == "cold":
                plans = [p for s in tr.subtree(q) for p in s.plans]
                family[q.attrs["query"]] = family_of(
                    self.input_files.get(q.attrs["query"], []) + plans)
        for phase in ("cold", "warm"):
            builds = [s for q in self.spans("query") if q.attrs["phase"] == phase
                      for s in tr.subtree(q) if s.name == "entry.plan_build"]
            runs = 1 if phase == "cold" else len(self.plan["warm_orders"])
            out[f"entry.plan_build_s.{phase}"] = sum(s.seconds for s in builds) / runs
            out[f"entry.plan_build_jobs.{phase}"] = tr.totals(
                [x for s in builds for x in tr.subtree(s)])["jobs"] / runs
            for fam in ("relational", "events", "text", "embedding"):
                out[f"family.{fam}.{phase}_s"] = sum(
                    sum(v) for (ph, n), v in self.latency.items()
                    if ph == phase and family.get(n) == fam
                ) / runs


WORKLOADS = {"bike_daily": BikeDaily, "status_stream": StatusStream, "query_mix": QueryMix}
