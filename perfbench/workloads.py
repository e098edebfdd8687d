"""The benchmark's workloads: what one pass runs, and how its output is
checked.

A workload is a list of *steps*.  A step has a build phase (calls into
the engine's public API and returns a plan or a value) and a sink phase
(executes it and writes or collects the result).  Every pass calls every
step's build again, so plans are rebuilt each pass; the case workload
opens a new ``ResdataCase`` per pass so its memoized frames never turn a
pass into a no-op.

``check`` runs once per run, after the timed passes, on what the last
pass wrote.  It returns ``{step: problem-or-None}``.  A workload's
``check_steps`` are steps that only the checks run, once per run: each
counts as one attempted step, failed if its check finds a problem.

``kinds`` names the input sets (``gen.GENERATORS``) a workload reads.
"""

from __future__ import annotations

import glob
import os

import numpy as np

import gen


class Step:
    def __init__(self, name: str, layer: str, build, sink):
        self.name, self.layer, self.build, self.sink = name, layer, build, sink


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# case_reek — res2csv and csv2res on one Reek-shaped case
# ---------------------------------------------------------------------------


def _guarded(out: dict, name: str, fn) -> None:
    """Run one check; a crash in it is a failed check, not a crash."""
    try:
        out[name] = fn()
    except Exception as e:  # noqa: BLE001
        out[name] = f"{type(e).__name__}: {e}"[:300]


class CaseReek:
    name = "case_reek"
    why = ("driver-bound: a Reek-shaped case read through ResdataCase to CSV/Parquet and written "
           "back; numpy decode, createDataFrame, pivot planning, driver-side writers")
    kinds = ("case",)
    #: schedule tables checked against the generator's schedule model
    check_steps = ("compdat", "wcon")

    def prepare(self, work, shape, seed):
        self.model = gen.gen_case(work, shape, seed)
        self.input_dir = self.model["dir"]
        self.inputs = [self.input_dir]
        self.out = os.path.join(work, "out", f"{self.name}-{os.getpid()}")
        os.makedirs(self.out, exist_ok=True)

    def new_pass(self, spark):
        from res2df_spark.case import ResdataCase

        self.case = ResdataCase(spark, os.path.join(self.input_dir, gen.CASE_NAME + ".DATA"))

    def path(self, name):
        return os.path.join(self.out, name)

    def steps(self):
        import pandas as pd

        from res2df_spark.modules import tables
        from res2df_spark.sinks import df2res
        from res2df_spark.sinks.writers import write_dataframe, write_parquet_with_metadata
        from res2df_spark.sources import eclbin

        def to_csv(name):
            return lambda df: write_dataframe(df, self.path(f"{name}.csv"))

        def read_csv(path):
            return spark().read.csv(path, header=True, inferSchema=True)

        def summary_back():
            # csv2res summary: the res2csv output of this pass, back to binaries
            pdf = read_csv(self.path("summary.csv")).toPandas()
            pdf["DATE"] = pd.to_datetime(pdf["DATE"])
            wide = pdf.set_index("DATE").sort_index()
            smspec = self.path("WB.SMSPEC")
            eclbin.write_summary(smspec, wide.index[0].to_pydatetime(), wide)
            return smspec

        def spark():
            return self.case.spark

        def equil_back(text):
            # csv2res equil: include text, parsed back by the engine
            with open(self.path("equil.inc"), "w") as f:
                f.write(text)
            tables.equil_df(spark(), text).toPandas().to_pickle(self.path("equil.pkl"))

        return [
            Step("summary", "case.summary", lambda: self.case.summary(), to_csv("summary")),
            Step("grid", "case.grid", lambda: self.case.grid(rstdates="all"),
                 lambda df: write_parquet_with_metadata(
                     df, self.path("grid.parquet"), {"PORO": {"unit": "fraction"}})),
            Step("rft", "case.rft", lambda: self.case.rft(), to_csv("rft")),
            Step("equil", "case.equil", lambda: self.case.equil(), to_csv("equil")),
            Step("write_summary", "sources.eclbin", summary_back,
                 lambda smspec: eclbin.summary_long(spark(), smspec).toPandas().to_pickle(
                     self.path("summary_back.pkl"))),
            Step("df2res_equil", "sinks.df2res",
                 lambda: df2res.df2res_equil(read_csv(
                     os.path.join(self.input_dir, "writeback", "equil.csv"))),
                 equil_back),
        ]

    def output_rows(self):
        import pandas as pd
        import pyarrow.parquet as pq

        rows = sum(pq.read_metadata(p).num_rows
                   for p in glob.glob(self.path("grid.parquet/*.parquet")))
        for name in ("summary", "rft", "equil"):
            rows += len(pd.read_csv(self.path(f"{name}.csv")))
        return rows

    def check(self):
        import pandas as pd

        m = self.model
        out = {}
        summary = m["summary"].to_numpy(dtype=np.float64)

        def read(name):
            return pd.read_csv(self.path(f"{name}.csv"))

        def check_summary():
            df = read("summary")
            if len(df) != len(summary):
                return f"{len(df)} rows, expected {len(summary)}"
            got = df[list(m["summary"].columns)].to_numpy(dtype=np.float64)
            if not np.allclose(got, summary, rtol=1e-6):
                return "summary values differ from the generated UNSMRY"
            return None

        def check_grid():
            df = pd.read_parquet(self.path("grid.parquet"))
            n = m["nactive"] * len(m["rst_dates"])
            if len(df) != n:
                return f"{len(df)} rows, expected active cells x dates = {n}"
            df = df.sort_values(["DATE", "ACTIVE_INDEX"])
            poro = np.tile(m["init"]["PORO"], len(m["rst_dates"]))
            pres = np.concatenate([m["rst"][d]["PRESSURE"] for d in m["rst_dates"]])
            if not (np.allclose(df["PORO"], poro) and np.allclose(df["PRESSURE"], pres)):
                return "PORO/PRESSURE differ from the generated INIT/UNRST"
            return None

        def check_rft():
            n = len(read("rft"))
            return None if n == m["rft_rows"] else f"{n} rows, expected {m['rft_rows']}"

        def check_equil():
            df = read("equil")
            want = dict(zip(("Z", "PRESSURE", "OWC", "PCOWC", "GOC", "PCGOC"), gen.EQUIL))
            if len(df) != 1 or any(float(df[k].iloc[0]) != v for k, v in want.items()):
                return "EQUIL row differs from the deck"
            return None

        def check_summary_back():
            long = pd.read_pickle(self.path("summary_back.pkl"))
            wide = long.pivot(index="DATE", columns="VECTOR", values="VALUE")
            wide = wide.reindex(index=m["summary"].index, columns=m["summary"].columns)
            if not np.allclose(wide.to_numpy(), summary, rtol=1e-6):
                return "UNSMRY written from the summary CSV reads back different values"
            return None

        def check_equil_back():
            back = pd.read_pickle(self.path("equil.pkl")).sort_values("EQLNUM")
            src = pd.read_csv(os.path.join(self.input_dir, "writeback", "equil.csv"))
            for c in ("Z", "PRESSURE", "OWC", "GOC"):
                if not np.allclose(back[c].to_numpy(float), src[c].to_numpy(float)):
                    return f"EQUIL column {c} reads back different values"
            return None

        def check_compdat():
            df = self.case.compdat().withColumnRenamed("OP/SH", "OP_SH").select(
                "WELL", "I", "J", "K1", "OP_SH", "DATE").toPandas()
            got = {(r.WELL, int(r.I), int(r.J), int(r.K1), r.OP_SH, pd.Timestamp(r.DATE).date())
                   for r in df.itertuples(index=False)}
            want = set(m["compdat"])
            if len(df) != len(want) or got != want:
                extra, missing = sorted(got - want), sorted(want - got)
                return (f"{len(df)} connection rows, expected {len(want)} from the schedule "
                        f"model; unexpected {extra[:3]}, missing {missing[:3]}")
            return None

        def check_wcon():
            df = self.case.wcon().select(
                "DATE", "KEYWORD", "WELL", "STATUS", "CMODE", "ORAT").toPandas()
            if set(df["KEYWORD"]) != {"WCONHIST"}:
                return f"keywords {sorted(set(df['KEYWORD']))}, expected WCONHIST only"
            got = sorted((pd.Timestamp(r.DATE).date(), r.WELL, r.STATUS, r.CMODE, float(r.ORAT))
                         for r in df.itertuples(index=False))
            if got != sorted(m["wcon"]):
                return (f"{len(got)} WCONHIST rows differ from the {len(m['wcon'])} of the "
                        "schedule model")
            return None

        for name, fn in (("summary", check_summary), ("grid", check_grid),
                         ("rft", check_rft), ("equil", check_equil),
                         ("write_summary", check_summary_back),
                         ("df2res_equil", check_equil_back),
                         ("compdat", check_compdat), ("wcon", check_wcon)):
            _guarded(out, name, fn)
        return out


# ---------------------------------------------------------------------------
# ensemble_suite — Spark-bound work: ensemble statistics and suite queries
# ---------------------------------------------------------------------------

#: Suite queries, one per family: relational aggregation, as-of join,
#: windowed resample, TF-IDF retrieval.  Each costs a fixed planning and
#: job overhead per pass whatever the data size, so the list is what the
#: run budget holds (dedup_minhash_lsh alone adds 5 s cold and 2 s warm).
SUITE_QUERIES = [
    "a1_pricing_summary",
    "j9_asof_join",
    "w8_resample_monthly",
    "tfidf_topk",
]


class EnsembleSuite:
    name = "ensemble_suite"
    why = ("Spark-bound: ensemble statistics decoded on executors plus suite queries; shuffles "
           "and operator/llm plans whose wall time follows stage count")

    kinds = ("ensemble", "suite")
    check_steps = ()

    def prepare(self, work, shape, seed):
        self.ensemble = gen.gen_ensemble(work, shape, seed)
        self.tables = gen.gen_tables(work, shape, seed)
        self.inputs = [self.ensemble["dir"], self.tables["dir"]]
        self.out = os.path.join(work, "out", f"{self.name}-{os.getpid()}")
        os.makedirs(self.out, exist_ok=True)
        self._rows = 0

    def new_pass(self, spark):
        self.spark = spark

    def steps(self):
        from pyspark.sql import functions as F

        import __spark_entry__ as entry
        from res2df_spark.sinks.writers import write_parquet_with_metadata
        from res2df_spark.sources.eclbin import summary_long_many

        def ensemble():
            long = summary_long_many(
                self.spark, os.path.join(self.ensemble["dir"], "realization-*", "eclipse",
                                         "model", "*.SMSPEC"))
            return long.groupBy("DATE", "VECTOR").agg(
                F.count("VALUE").alias("N"),
                F.mean("VALUE").alias("MEAN"),
                F.percentile("VALUE", 0.1).alias("P10"),
                F.percentile("VALUE", 0.5).alias("P50"),
                F.percentile("VALUE", 0.9).alias("P90"),
            )

        qs = entry.queries()
        stats_meta = {c: {"statistic": c.lower()} for c in ("N", "MEAN", "P10", "P50", "P90")}
        return [Step("ensemble", "sources.eclbin", ensemble,
                     lambda df: write_parquet_with_metadata(
                         df, os.path.join(self.out, "stats.parquet"), stats_meta))] + [
            Step(q, "suite", (lambda q=q: qs[q](self.spark, self.tables["dir"])), _noop)
            for q in SUITE_QUERIES]

    def output_rows(self):
        return self._rows

    def check(self):
        out = {}
        _guarded(out, "ensemble", self._check_ensemble)
        import duckdb

        import __spark_entry__ as entry

        oracles, qs = entry.oracle_sql(), entry.queries()
        con = duckdb.connect()
        for t in self.tables["rows"]:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.tables['dir']}/{t}.parquet'")
        for q in SUITE_QUERIES:
            def one(q=q):
                sdf = qs[q](self.spark, self.tables["dir"]).toPandas()
                self._rows += len(sdf)
                return compare_frames(sdf, con.sql(oracles[q]).df())
            _guarded(out, q, one)
        con.close()
        return out

    def _check_ensemble(self):
        import pandas as pd

        m = self.ensemble
        got = pd.read_parquet(os.path.join(self.out, "stats.parquet"))
        self._rows += len(got)
        vals = m["values"].astype(np.float64)  # (realization, date, vector)
        if len(got) != vals.shape[1] * vals.shape[2]:
            return f"{len(got)} rows, expected {vals.shape[1] * vals.shape[2]}"
        if not (got["N"] == vals.shape[0]).all():
            return "a (DATE, VECTOR) group misses realizations"
        di = {pd.Timestamp(d): i for i, d in enumerate(m["dates"])}
        vi = {v: i for i, v in enumerate(m["vectors"])}
        rows = got["DATE"].map(lambda d: di[pd.Timestamp(d)]).to_numpy()
        cols = got["VECTOR"].map(vi).to_numpy()
        ref = {"MEAN": vals.mean(axis=0)}
        for q in (10, 50, 90):
            ref[f"P{q}"] = np.percentile(vals, q, axis=0)
        for k, r in ref.items():
            if not np.allclose(got[k].to_numpy(), r[rows, cols], rtol=1e-9):
                return f"{k} differs from the numpy reference"
        return None


def _normalize(df):
    import pandas as pd

    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def compare_frames(sdf, ddf) -> str | None:
    """Order-insensitive comparison of a Spark result with its DuckDB
    oracle: row count, column names, then values (floats to 1e-9
    relative)."""
    import pandas as pd

    if len(sdf) != len(ddf):
        return f"row count: spark={len(sdf)} duckdb={len(ddf)}"
    s, d = _normalize(sdf), _normalize(ddf)
    if list(s.columns) != list(d.columns):
        return f"columns: spark={list(s.columns)} duckdb={list(d.columns)}"
    for c in s.columns:
        sv, dv = s[c], d[c]
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(dv):
            sa, da = pd.to_numeric(sv, errors="coerce"), pd.to_numeric(dv, errors="coerce")
            ok = (sa.isna() & da.isna()) | ((sa - da).abs() <= 1e-9 + 1e-9 * da.abs())
        else:
            ok = (sv == dv) | (sv.isna() & dv.isna())
        if not ok.all():
            i = int((~ok).to_numpy().argmax())
            return f"column {c}: first mismatch at row {i}: {sv[i]!r} vs {dv[i]!r}"
    return None


WORKLOADS = {w.name: w for w in (CaseReek, EnsembleSuite)}

