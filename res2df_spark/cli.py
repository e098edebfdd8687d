"""CLI: ``res2csv``-style entry point (SURVEY §3.1, reference
res2csv.py): one subcommand per datatype module, CSV out (``-o -``
streams to stdout, the reference's convention).

Every ``res2csv`` subcommand goes through one
:class:`res2df_spark.case.ResdataCase`, opened on the subcommand's path
argument — the reference's ``module.df(ResdataFiles(path), ...)``
idiom.  The subcommand calls the case method of its name; the options
the case API does not have (``compdat --initvectors``,
``--vfpnumbers``, ``nnc --pillars/--coords``, ``summary
--params/--paramfile``, a missing explicit ``--zonemap``) are CLI
post-steps on the case frame."""

from __future__ import annotations

import argparse
import os
import sys

from res2df_spark.case import ResdataCase
from res2df_spark.session import get_spark
from res2df_spark.sinks.writers import write_dataframe

#: subcommand → (path argument, help).  A ``deckfile`` is a .DATA or
#: include file; a ``case`` is the case root of the binary simulator
#: output (path with or without .DATA, reference res2csv's DATAFILE
#: idiom).
_MODULES = {
    "compdat": ("deckfile", "Connection table (COMPDAT/WELOPEN schedule pipeline)"),
    "gruptree": ("deckfile", "Group-tree snapshots"),
    "satfunc": ("deckfile", "Saturation-function tables"),
    "pvt": ("deckfile", "PVT tables"),
    "equil": ("deckfile", "Equilibrium records"),
    "wlist": ("deckfile", "Well-list snapshots"),
    "vfpprod": ("deckfile", "VFPPROD lift curves (melted)"),
    "vfpinj": ("deckfile", "VFPINJ lift curves (melted)"),
    "faults": ("deckfile", "Per-cell fault table (FAULTS box explode)"),
    "wcon": ("deckfile", "Dated well-control table (WCONHIST/INJE/INJH/PROD)"),
    "summary": ("case", "Long summary table from CASE.SMSPEC/.UNSMRY"),
    "grid": ("case", "Per-cell grid table from CASE.EGRID [+ .INIT, .UNRST]"),
    "rft": ("case", "Per-connection RFT table from CASE.RFT"),
    "nnc": ("case", "Non-neighbour connections from CASE.EGRID [+ TRANNNC from .INIT]"),
    "trans": ("case", "Neighbour transmissibilities from CASE.EGRID + .INIT"),
    "pillars": ("case", "Per-pillar statistics from CASE.EGRID [+ .INIT, .UNRST]"),
    "fipreports": ("case", "FIP balance blocks from CASE.PRT"),
    "wellconnstatus": ("case", "Connection status changes from CPI summary vectors"),
    "wellcompletiondata": (
        "deckfile", "Zone-aggregated completion data (compdat ⋈ lyr zonemap)"
    ),
}

_PATH_HELP = {
    "deckfile": "input .DATA / include file",
    "case": "case root (path with or without .DATA)",
}


def _frame(case, args):
    """The subcommand's frame: the case method of its name, plus the
    CLI-only post-steps.  ``rstdates`` follows the reference CLI
    contract (grid.py:556-562, pillars.py:339-346): empty → no restart
    data; an explicit value with no UNRST present raises."""
    from pyspark.sql import functions as F

    name = args.module
    if name == "summary":
        keys = [k.strip() for k in args.column_keys.split(",") if k.strip()]
        # ALWAYS the reference's wide shape — the output schema must
        # not silently flip between long and wide depending on which
        # flags happen to be present (summary_mod.df pivots)
        out = case.summary(
            time_index=args.time_index, column_keys=keys,
            start_date=args.start_date or None, end_date=args.end_date or None,
            include_restart=args.include_restart,
        )
        if args.params or args.paramfile:
            from res2df_spark.sources.aux import attach_parameters, load_parameters

            out = attach_parameters(
                out, load_parameters(case.root, filebase=args.paramfile or None)
            )
        return out
    if name == "grid":
        # reference grid_main (grid.py:759-772): wide restart shape by
        # default, --stackdates for the DATE column
        return case.grid(
            rstdates=args.rstdates or None, vectors=args.vectors,
            stackdates=args.stackdates, dropconstants=args.dropconstants,
        )
    if name == "pillars":
        # reference pillars_main (pillars.py:409-438): the CLI's contact
        # cutoffs default to 0.5, unlike the case method's
        return case.pillars(
            region_col=args.region or None, rstdates=args.rstdates or None,
            soilcutoff=args.soilcutoff, sgascutoff=args.sgascutoff,
            swatcutoff=args.swatcutoff, group=args.group,
            stackdates=args.stackdates,
        )
    if name == "trans":
        return case.trans(
            vectors=args.vectors, boundaryfilter=args.boundaryfilter,
            group=args.group, coords=args.coords, onlykdir=args.onlyk,
            onlyijdir=args.onlyij, addnnc=args.addnnc,
        )
    if name == "rft":
        return case.rft(wellname=args.wellname, date=args.date)
    if name == "fipreports":
        return case.fipreports(fipname=args.fipname or "FIPNUM")
    if name == "nnc":
        out = case.nnc()
        # reference nnc -p/--pillars, -c/--coords (nnc.py:175-200):
        # vertical filter first (cheaper), then the midpoint join
        if args.pillars:
            from res2df_spark.modules.grid import vertical_nnc_filter

            out = vertical_nnc_filter(out)
        if args.coords:
            from res2df_spark.modules.grid import nnc_coordinates

            geom = case.grid().select("I", "J", "K", "X", "Y", "Z")
            out = nnc_coordinates(out, geom).select(
                *out.columns,
                F.col("X_MID").alias("X"), F.col("Y_MID").alias("Y"),
                F.col("Z_MID").alias("Z"),
            )
        return out
    if name == "compdat":
        out = case.compdat()
        if args.initvectors:
            # reference compdat --initvectors (compdat.py:927-950 →
            # grid.merge_initvectors on I, J, K1): INNER like its pandas
            # merge, so a connection in a cell absent from the grid
            # frame drops
            grid = case.grid()
            missing = [v for v in args.initvectors if v not in grid.columns]
            if missing:
                raise SystemExit(f"INIT vectors {missing} not found")
            dim = grid.select(
                "I", "J", F.col("K").alias("K1"),
                *[F.col(v) for v in args.initvectors],
            )
            out = out.join(dim, ["I", "J", "K1"])
        return out
    if name == "gruptree":
        from datetime import date

        startdate = date.fromisoformat(args.startdate) if args.startdate else None
        return case.gruptree(startdate=startdate)
    if name in ("satfunc", "pvt", "equil"):
        return getattr(case, name)(keywords=args.keywords)
    if name in ("vfpprod", "vfpinj"):
        out = getattr(case, name)()
        if out is not None and args.vfpnumbers:
            # P10 int-list table filter (reference _vfpprod.py:95-98)
            from res2df_spark.functions.strings import string_to_intlist

            out = out.filter(F.col("TABLE").isin(string_to_intlist(args.vfpnumbers)))
        return out
    if name == "wellcompletiondata":
        # reference get_zonemap (resdatafiles.py:207-247): an explicit
        # zonemap that does not exist warns and yields the empty map,
        # so no connection is zoned and the aggregate is empty
        try:
            zmap = case.get_zonemap(args.zonemap)
        except FileNotFoundError as e:
            print(f"Zonefile {e} not found, ignoring", file=sys.stderr)
            zmap = case.spark.createDataFrame([], "K int, ZONE string")
        return case.wellcompletiondata(
            zmap, excl_well_startswith=args.excl_well_startswith,
            use_wellconnstatus=args.use_wellconnstatus,
        )
    return getattr(case, name)()


def _add_verbosity(s: argparse.ArgumentParser) -> None:
    """-v/--verbose and --debug on every subparser, like the
    reference's fill_parser blocks (e.g. summary.py:782-790,
    trans.py:277) feeding getLogger_res2csv."""
    s.add_argument("-v", "--verbose", action="store_true", help="Be verbose")
    s.add_argument("--debug", action="store_true", help="Debug logging")


def _apply_verbosity(args: argparse.Namespace) -> None:
    """Map the flags onto the engine's logger tree (the reference's
    getLogger_res2csv, res2csvlogger.py: INFO for -v, DEBUG for
    --debug, WARNING otherwise)."""
    import logging

    level = (
        logging.DEBUG if getattr(args, "debug", False)
        else logging.INFO if getattr(args, "verbose", False)
        else logging.WARNING
    )
    logging.basicConfig(level=level)
    logging.getLogger("res2df_spark").setLevel(level)


def get_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="res2csv-spark",
        description="Extract datatype tables from a deck via the Spark engine",
    )
    sub = p.add_subparsers(dest="module", required=True)
    for name, (arg, help_) in _MODULES.items():
        s = sub.add_parser(name, help=help_)
        _add_verbosity(s)
        s.add_argument("path", metavar=arg, help=_PATH_HELP[arg])
        s.add_argument("-o", "--output", default="-", help="CSV path, '-' = stdout")
        if arg == "case":
            s.add_argument(
                "--rstdates", default="",
                help="grid/pillars: restart dates to include "
                     "(first/last/all/ISO date; default: none — the "
                     "reference res2csv default)",
            )
        if name == "compdat":
            s.add_argument(
                "--initvectors", nargs="+", default=None,
                help="INIT vectors to merge onto connections by "
                     "(I, J, K1) — needs EGRID/INIT next to the deck "
                     "(reference compdat --initvectors)",
            )
        if name in ("vfpprod", "vfpinj"):
            s.add_argument(
                "-n", "--vfpnumbers", default=None,
                help="table numbers to extract, '[1,2,6:9]' int-list "
                     "syntax; NOTE 'a:b' selects only the two endpoint "
                     "table numbers a and b, not the range between "
                     "(reference-faithful quirk of string_to_intlist; "
                     "reference vfp -n/--vfpnumbers)",
            )
            s.add_argument(
                "--arrow", action="store_true",
                help="write Arrow IPC (feather) instead of CSV "
                     "(reference vfp --arrow)",
            )
        if name in ("satfunc", "pvt", "equil"):
            s.add_argument(
                "-k", "--keywords", nargs="+", default=None,
                help="restrict to these keywords (P9 want-list; "
                     "reference satfunc/pvt/equil --keywords)",
            )
        if name == "gruptree":
            s.add_argument(
                "--prettyprint", action="store_true",
                help="print ASCII trees per date instead of CSV "
                     "(reference gruptree --prettyprint)",
            )
            s.add_argument(
                "--startdate", default=None,
                help="ISO date stamped on tree records occurring before "
                     "any START/DATES",
            )
        if name in ("grid", "pillars"):
            s.add_argument(
                "--stackdates", action="store_true",
                help="stack restart data under a DATE column instead of "
                     "NAME@YYYY-MM-DD headers (reference --stackdates)",
            )
        if name == "grid":
            s.add_argument(
                "--vectors", nargs="+", default="*",
                help="INIT and/or restart wildcards for vectors to "
                     "include (reference grid --vectors)",
            )
            s.add_argument(
                "--dropconstants", action="store_true",
                help="drop constant columns from the dataset "
                     "(reference grid --dropconstants)",
            )
            s.add_argument(
                "--arrow", action="store_true",
                help="write Arrow IPC (feather) instead of CSV "
                     "(reference grid --arrow)",
            )
        if name == "pillars":
            s.add_argument(
                "--region", default="",
                help="region parameter to split pillar computations on "
                     "(e.g. EQLNUM/FIPNUM; empty = no region grouping)",
            )
            s.add_argument(
                "--soilcutoff", type=float, default=0.5,
                help="OWC = deepest cell with SOIL above this, per "
                     "pillar (reference pillars --soilcutoff)",
            )
            s.add_argument(
                "--sgascutoff", type=float, default=0.5,
                help="GOC/GWC = deepest cell with SGAS above this, per "
                     "pillar (reference pillars --sgascutoff)",
            )
            s.add_argument(
                "--swatcutoff", type=float, default=0.5,
                help="only pillars with some cell above this water "
                     "saturation get OWC/GWC (reference --swatcutoff)",
            )
            s.add_argument(
                "--group", action="store_true",
                help="aggregate over all pillars (per --region and/or "
                     "DATE when present; reference pillars --group)",
            )
        if name == "trans":
            # reference trans fill_parser (trans.py:236-280)
            s.add_argument(
                "--vectors", nargs="+", default=None,
                help="extra INIT vectors to be added as <VEC>1/<VEC>2",
            )
            s.add_argument(
                "--boundaryfilter", action="store_true",
                help="filter to connections where the INIT vector "
                     "changes value (exactly one vector)",
            )
            s.add_argument(
                "--onlyk", action="store_true",
                help="filter to only K direction",
            )
            s.add_argument(
                "--onlyij", action="store_true",
                help="filter to only IJ-plane",
            )
            s.add_argument(
                "--coords", action="store_true",
                help="add connection midpoint coordinates and distances",
            )
            s.add_argument(
                "--group", action="store_true",
                help="sum transmissibilities over region interfaces "
                     "(region name in --vectors)",
            )
            s.add_argument(
                "--nnc", action="store_true", dest="addnnc",
                help="add NNC transmissibilities to the same dataframe",
            )
        if name == "nnc":
            # reference nnc fill_parser (nnc.py:175-200)
            s.add_argument(
                "-c", "--coords", action="store_true",
                help="add xyz coords of connection midpoint",
            )
            s.add_argument(
                "-p", "--pillars", "--vertical", action="store_true",
                dest="pillars",
                help="only dump vertical (along pillars) connections",
            )
        if name == "fipreports":
            s.add_argument(
                "--fipname", default="FIPNUM",
                help="region parameter name of interest (reference "
                     "fipreports --fipname)",
            )
        if name == "rft":
            s.add_argument(
                "--wellname", default=None,
                help="restrict data to one named well (reference rft "
                     "--wellname)",
            )
            s.add_argument(
                "--date", default=None,
                help="restrict data to one date, YYYY-MM-DD (reference "
                     "rft --date)",
            )
        if name == "summary":
            s.add_argument(
                "--time_index", default="raw",
                help="raw/first/last or daily/weekly/monthly/yearly "
                     "(rate/total-aware resample, wide output)",
            )
            s.add_argument(
                "--column_keys", default="",
                help="comma-separated vector globs, e.g. 'FOPT,WOPR:*'",
            )
            s.add_argument(
                "--start_date", default="",
                help="ISO date: drop observations before this date "
                     "(reference res2csv summary --start_date)",
            )
            s.add_argument(
                "--end_date", default="",
                help="ISO date: drop observations after this date",
            )
            s.add_argument(
                "--arrow", action="store_true",
                help="write Arrow IPC (feather) instead of CSV "
                     "(reference res2csv --arrow)",
            )
            s.add_argument(
                "-p", "--params", action="store_true",
                help="merge parameters.txt/yml/json from the case dir "
                     "onto every row (reference summary --params)",
            )
            s.add_argument(
                "--paramfile", default=None,
                help="explicit key-value parameter file: absolute path "
                     "loads that file, a relative name is searched in "
                     "the case dir and parents (reference summary "
                     "--paramfile; implies --params)",
            )
            s.add_argument(
                "--include_restart", action="store_true",
                help="prepend history from the restart-chain parent "
                     "cases named in SMSPEC RESTART (reference summary "
                     "--include_restart)",
            )
        if name == "wellcompletiondata":
            s.add_argument(
                "--zonemap", default=None,
                help="lyr zonemap file (default: zones.lyr next to the deck, "
                     "silently empty when absent — reference get_zonemap)",
            )
            s.add_argument(
                "--excl_well_startswith", default=None,
                help="exclude wells with this name prefix (P8)",
            )
            s.add_argument(
                "--use_wellconnstatus", action="store_true",
                help="use OPEN/SHUT events extracted from CPI* summary "
                     "vectors instead of the schedule file (reference "
                     "wellcompletiondata --use_wellconnstatus)",
            )
            s.add_argument(
                "--arrow", action="store_true",
                help="write Arrow IPC (feather) instead of CSV, with KH "
                     "unit metadata (reference wellcompletiondata --arrow)",
            )
    return p


def main(argv: list[str] | None = None) -> int:
    args = get_parser().parse_args(argv)
    _apply_verbosity(args)
    # res2arrow console alias: same CLI, arrow output forced
    # (reference res2csv.py:270-271 keys on the invoked program name)
    if argv is None and "arrow" in os.path.basename(sys.argv[0] or ""):
        args.__dict__["arrow"] = True
    spark = get_spark(f"res2csv-{args.module}")
    spark.sparkContext.setLogLevel("ERROR")
    df = _frame(ResdataCase(spark, args.path), args)
    if df is None:
        print("no matching keywords found in deck", file=sys.stderr)
        return 1
    if getattr(args, "prettyprint", False):
        from res2df_spark.modules.gruptree import prettyprint

        pdf = df.toPandas()
        if pdf.empty:
            print("No tree data to prettyprint", file=sys.stderr)
            return 0
        print(prettyprint(pdf))
        return 0
    if getattr(args, "arrow", False):
        import pyarrow.feather as feather

        from res2df_spark.sinks.writers import to_arrow_table

        if args.output == "-":
            # reference common.py:141
            raise SystemExit("Not possible to write arrow format to stdout")
        # field metadata (e.g. the KH unit) rides the Arrow schema,
        # like the reference's _df2pyarrow (wellcompletiondata.py:218);
        # summary and grid exports additionally downcast to the
        # reference's 32-bit/millisecond dtype contract (their binary
        # sources are 32-bit — summary.py:486-521, grid.py:126-147)
        feather.write_feather(
            to_arrow_table(
                df, downcast32=args.module in ("summary", "grid")
            ),
            args.output,
        )
        return 0
    write_dataframe(df, args.output)
    return 0


# ---------------------------------------------------------------------------
# csv2res — the reverse CLI (reference csv2res.py:43-88): datatype CSV
# back to simulator input (include-file text, or SMSPEC/UNSMRY binaries
# for summary).
# ---------------------------------------------------------------------------

_CSV2RES_MODULES = {
    "summary": "Wide summary CSV (DATE + vector columns) → SMSPEC/UNSMRY pair",
    "equil": "Equil family CSV → SOLUTION include text (EQUIL, RSVD, RVVD, …)",
    "pvt": "PVT family CSV → PROPS include text (PVTO/PVTG/PVTW/PVDG/…)",
    "satfunc": "Saturation-function CSV → PROPS include text (SWOF/SGOF/…)",
    "vfp": "Melted VFP CSV → VFPPROD/VFPINJ include text",
    "compdat": "Connection CSV → COMPDAT include text",
    "welspecs": "Well-header CSV → WELSPECS include text",
}


def get_csv2res_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="csv2res-spark",
        description="Write simulator include files back from datatype CSVs",
    )
    sub = p.add_subparsers(dest="module", required=True)
    for name, help_ in _CSV2RES_MODULES.items():
        s = sub.add_parser(name, help=help_)
        _add_verbosity(s)
        s.add_argument("csvfile", help="input CSV (res2csv-spark output shape)")
        s.add_argument(
            "-o", "--output", default="-",
            help="include file path, '-' = stdout; for summary: the "
                 ".SMSPEC path (the .UNSMRY lands next to it)",
        )
        if name in ("equil", "pvt", "satfunc"):
            s.add_argument(
                "-k", "--keywords", nargs="+", default=None,
                help="restrict the include text to these keywords "
                     "(reference csv2res fill_reverse_parser -k)",
            )
    return p


def csv2res_main(argv: list[str] | None = None) -> int:
    from res2df_spark.sinks import df2res

    args = get_csv2res_parser().parse_args(argv)
    _apply_verbosity(args)
    spark = get_spark(f"csv2res-{args.module}")
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.read.csv(args.csvfile, header=True, inferSchema=True)

    if args.module == "summary":
        import pandas as pd

        from res2df_spark.sources.eclbin import write_summary

        # validate the output target BEFORE paying the CSV read +
        # toPandas — the binary writer can never stream to stdout
        if args.output == "-":
            raise SystemExit("summary writes binaries; -o SMSPEC path required")
        pdf = df.toPandas()
        if pdf.empty:
            raise SystemExit(
                f"summary: {args.csvfile} has no data rows — nothing to "
                "write (a binary summary needs at least one report step)"
            )
        pdf["DATE"] = pd.to_datetime(pdf["DATE"])
        wide = pdf.set_index("DATE").sort_index()
        start = wide.index[0].to_pydatetime()
        write_summary(args.output, start, wide)
        return 0

    keywords = getattr(args, "keywords", None)
    if keywords:
        # reference csv2res -k/--keywords (common.fill_reverse_parser):
        # write back only the named keyword tables from the tagged CSV.
        # Same warn semantics as the forward direction's want-list: a
        # typo'd keyword (or a CSV without a KEYWORD column) must not
        # silently yield empty include text.
        import warnings

        from pyspark.sql import functions as F

        if "KEYWORD" not in df.columns:
            warnings.warn(
                "-k/--keywords ignored: the CSV has no KEYWORD column",
                RuntimeWarning,
                stacklevel=2,
            )
        else:
            present = {
                r["KEYWORD"] for r in df.select("KEYWORD").distinct().collect()
            }
            missing = set(keywords) - present
            if missing:
                warnings.warn(
                    f"Requested keyword(s) not in {args.csvfile}: "
                    f"{sorted(missing, key=str)}",
                    RuntimeWarning,
                    stacklevel=2,
                )
            df = df.filter(F.col("KEYWORD").isin(list(keywords)))
    if args.module == "equil":
        text = df2res.df2res_equil(df)
    elif args.module == "pvt":
        text = df2res.df2res_pvt(df)
    elif args.module == "satfunc":
        text = df2res.df2res_satfunc(df)
    elif args.module == "vfp":
        # dispatch on the melted shape: WFR/GFR/ALQ ⇒ VFPPROD
        text = (
            df2res.df2res_vfpprod(df)
            if "WFR" in df.columns
            else df2res.df2res_vfpinj(df)
        )
    elif args.module == "compdat":
        text = df2res.df2res_compdat(df)
    elif args.module == "welspecs":
        text = df2res.df2res_welspecs(df)
    else:  # pragma: no cover
        raise SystemExit(f"unknown module {args.module}")

    if args.output == "-":
        sys.stdout.write(text)
    else:
        with open(args.output, "w") as f:
            f.write(text)
    return 0


# ---------------------------------------------------------------------------
# Training-data curation CLI — the LLM-pipeline counterpart of res2csv:
# parquet corpus in → curated parquet (or CSV) out, one subcommand per
# pipeline stage, all composable by chaining invocations.
# ---------------------------------------------------------------------------

_CURATE_MODULES = {
    "quality": "Gopher/C4 quality gate: metrics + reject bitmask per doc",
    "dedup-exact": "drop exact duplicate texts (md5 keep-lowest-id)",
    "near-dup": "MinHash-LSH near-duplicate candidate pairs",
    "sample": "deterministic hash sample (--fraction) or weighted top-k (--weight-col/--k)",
    "split": "train/val/test hash split (adds a split column)",
    "cap": "per-group frequency cap (--group-col/--cap)",
    "scrub": "PII scrub (emails/phones/etc.) with audit counts",
    "chunk": "overlapping token-window chunking",
    "lm-score": "char-bigram LM quality score vs a trusted slice (--train-source)",
    "stats": "per-source length percentiles (p50/p90/p99 tokens)",
    "export-tar": "WebDataset-style sharded tar export (text or binary payloads)",
    "decontaminate": "n-gram overlap vs a benchmark parquet (--benchmark)",
    "bm25": "BM25 top-k retrieval for --terms over the corpus",
    "entropy": "one-row corpus token statistics (entropy, Zipf head)",
    "truncate-emb": "matryoshka prefix truncation + L2 renorm (--dims)",
    "semantic-dedup": "SemDeDup keep/drop over an embedding column",
    "soft-dedup": "SoftDeDup sampling weights (1/group-size + commonness)",
    "dsir": "DSIR hashed-n-gram importance weights vs a target slice",
    "nb-score": "Naive-Bayes quality-classifier log-odds vs a positive slice",
    "line-dedup": "cut token-window segments shared across documents",
    "containment": "asymmetric shingle-containment near-dup pairs",
    "pagerank": "PageRank over an edge parquet (--src-col/--dst-col)",
    "anomalies": "per-key z-score value outliers (--key-col/--value-col)",
    "histogram": "exact equal-width histogram of a numeric column (--value-col)",
}


def get_curate_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="res2df-curate-spark",
        description="Training-data curation over a parquet documents corpus",
    )
    sub = p.add_subparsers(dest="op", required=True)
    for name, help_ in _CURATE_MODULES.items():
        s = sub.add_parser(name, help=help_)
        _add_verbosity(s)
        s.add_argument("input", help="input parquet path")
        s.add_argument("-o", "--output", required=True, help="output parquet path")
        s.add_argument("--id-col", default="doc_id")
        s.add_argument("--text-col", default="text")
        if name == "quality":
            s.add_argument("--min-tokens", type=int, default=50)
            s.add_argument("--keep-only", action="store_true",
                           help="write only passing docs instead of the audit table")
        elif name == "near-dup":
            s.add_argument("--num-hashes", type=int, default=16)
            s.add_argument("--band-size", type=int, default=4)
            s.add_argument("--shingle-k", type=int, default=3)
            s.add_argument("--max-bucket-size", type=int, default=None)
        elif name == "sample":
            s.add_argument("--fraction", type=float, default=None)
            s.add_argument("--weight-col", default=None)
            s.add_argument("--k", type=int, default=None)
        elif name == "split":
            s.add_argument("--weights", default="0.98,0.01,0.01",
                           help="comma-separated train,val,test weights "
                                "(resolved to md5 bucket boundaries, 1/256 "
                                "granularity)")
        elif name == "cap":
            s.add_argument("--group-col", default="source")
            s.add_argument("--cap", type=int, required=True)
        elif name == "chunk":
            s.add_argument("--chunk-chars", type=int, default=2000)
            s.add_argument("--overlap", type=int, default=200)
        elif name == "lm-score":
            s.add_argument("--train-source", required=True,
                           help="value of the source column to train on")
            s.add_argument("--source-col", default="source",
                           help="column holding the source/provenance label")
        elif name == "stats":
            s.add_argument("--source-col", default="source",
                           help="column to group the percentiles by")
        elif name == "decontaminate":
            s.add_argument("--benchmark", required=True,
                           help="parquet path of the eval/benchmark corpus")
            s.add_argument("--shingle-k", type=int, default=3)
            s.add_argument("--threshold", type=float, default=0.5)
        elif name == "bm25":
            s.add_argument("--terms", required=True,
                           help="comma-separated query terms")
            s.add_argument("--k", type=int, default=10)
        elif name == "truncate-emb":
            s.add_argument("--dims", type=int, default=16)
            s.add_argument("--vec-col", default="embedding")
            s.add_argument("--no-renorm", action="store_true")
        elif name == "semantic-dedup":
            s.add_argument("--vec-col", default="embedding")
            s.add_argument("--threshold", type=float, default=0.95)
            s.add_argument("--target-cluster", type=int, default=64,
                           help="target cluster size; k = max(N/target, 8)")
            s.add_argument("--max-cluster-size", type=int, default=None)
            s.add_argument("--keep-only", action="store_true",
                           help="write only surviving rows instead of the "
                                "(id, cluster_id, keep) audit table")
        elif name == "soft-dedup":
            s.add_argument("--shingle-k", type=int, default=3)
        elif name == "dsir":
            s.add_argument("--target-col", default="lang",
                           help="column defining the target slice")
            s.add_argument("--target-value", required=True,
                           help="value of --target-col marking target docs")
        elif name == "nb-score":
            s.add_argument("--pos-col", default="source",
                           help="column defining the positive slice")
            s.add_argument("--pos-values", required=True,
                           help="comma-separated values of --pos-col "
                                "marking positive (trusted) docs")
        elif name == "line-dedup":
            s.add_argument("--window", type=int, default=8,
                           help="tokens per segment (the 'line' width)")
            s.add_argument("--max-df", type=int, default=1,
                           help="drop segments in more than this many docs")
        elif name == "containment":
            s.add_argument("--threshold", type=float, default=0.8)
            s.add_argument("--shingle-k", type=int, default=3)
            s.add_argument("--max-token-df", type=int, default=1000,
                           help="stop-shingle cap (default 1000, the "
                                "engine default); 0 disables the cap — "
                                "uncapped hot shingles cost O(df^2)")
        elif name == "pagerank":
            s.add_argument("--src-col", default="src")
            s.add_argument("--dst-col", default="dst")
            s.add_argument("--damping", type=float, default=0.85)
            s.add_argument("--iterations", type=int, default=10)
            s.add_argument("--weight-col", default=None,
                           help="positive edge-weight column (weighted PR)")
            s.add_argument("--redistribute-dangling", action="store_true",
                           help="share sink-node mass uniformly each round "
                                "(conserves total rank mass)")
        elif name == "anomalies":
            s.add_argument("--key-col", default="user_id")
            s.add_argument("--value-col", default="value")
            s.add_argument("--min-events", type=int, default=5)
            s.add_argument("--z-threshold", type=float, default=2.5)
        elif name == "histogram":
            s.add_argument("--value-col", default="value")
            s.add_argument("--n-bins", type=int, default=20)
            s.add_argument("--lo", type=float, default=None)
            s.add_argument("--hi", type=float, default=None)
        elif name == "export-tar":
            s.add_argument("--n-shards", type=int, default=8)
            s.add_argument("--payload-col", default=None,
                           help="binary payload column; defaults to utf-8 "
                                "encoding of --text-col")
            s.add_argument("--meta-cols", default="",
                           help="comma-separated metadata sidecar columns")
    return p


def curate_main(argv: list[str] | None = None) -> int:
    from res2df_spark.llm import curation

    args = get_curate_parser().parse_args(argv)
    _apply_verbosity(args)
    spark = get_spark(f"curate-{args.op}")
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.read.parquet(args.input)
    idc, txt = args.id_col, args.text_col

    if args.op == "quality":
        out = curation.quality_filter(
            df, id_col=idc, text_col=txt, min_tokens=args.min_tokens,
            passthrough=[c for c in df.columns if c != idc],
        )
        if args.keep_only:
            out = out.filter("keep").drop(
                "n_tokens", "mean_token_len", "dup_token_frac",
                "alpha_ratio", "reject_mask", "keep",
            )
    elif args.op == "dedup-exact":
        from pyspark.sql import Window, functions as F

        # One row per md5(text) group via a partitioned window — ONE
        # shuffle, and correct where a keeper-id semi-join against
        # llm.dedup.exact_duplicates is not: a NULL-id row never
        # equi-joins (min(id) also skips NULLs, so an all-NULL-id group
        # has no keeper), and duplicate ids across groups make the id
        # column ambiguous as a join key.  NULL texts are exempt from
        # the window: md5(NULL) is NULL, so partitionBy(md5(text))
        # would pool every null-text document into one phantom group
        # and keep exactly one of them (same reason exact_duplicates
        # filters them).
        nonnull = df.filter(F.col(txt).isNotNull())
        # asc_nulls_last: a NULL-id row must never win keeper over a
        # real id (ascending default is NULLS FIRST)
        w = Window.partitionBy(F.md5(F.col(txt))).orderBy(
            F.col(idc).asc_nulls_last()
        )
        out = (
            nonnull.withColumn("__rn", F.row_number().over(w))
            .filter("__rn = 1").drop("__rn")
            .unionByName(df.filter(F.col(txt).isNull()))
        )
    elif args.op == "near-dup":
        from res2df_spark.llm.dedup import minhash_lsh_candidates

        out = minhash_lsh_candidates(
            df, num_hashes=args.num_hashes, band_size=args.band_size,
            shingle_k=args.shingle_k, id_col=idc, text_col=txt,
            max_bucket_size=args.max_bucket_size,
        )
    elif args.op == "sample":
        if args.weight_col is not None:
            if args.k is None:
                raise SystemExit("--weight-col requires --k")
            out = curation.weighted_sample(df, args.weight_col, args.k, id_col=idc)
        elif args.fraction is not None:
            out = curation.deterministic_sample(df, id_col=idc, fraction=args.fraction)
        else:
            raise SystemExit("sample needs --fraction or --weight-col/--k")
    elif args.op == "split":
        parts = [float(x) for x in args.weights.split(",")]
        if len(parts) != 3:
            raise SystemExit(
                f"--weights needs exactly 3 comma-separated fractions, got {args.weights!r}"
            )
        if abs(sum(parts) - 1.0) > 1e-6:
            raise SystemExit(
                f"--weights must sum to 1.0 (got {sum(parts):g}); "
                "pass fractions, not percentages"
            )
        w_train, w_val, _ = parts
        train = int(round(256 * w_train))
        val = train + int(round(256 * w_val))
        out = curation.hash_split(df, id_col=idc, train=train, val=val)
    elif args.op == "cap":
        out = curation.cap_per_group(df, args.group_col, args.cap, id_col=idc)
    elif args.op == "scrub":
        out = curation.pii_scrub(df, id_col=idc, text_col=txt)
    elif args.op == "chunk":
        out = curation.doc_chunks(
            df, chunk_chars=args.chunk_chars, overlap=args.overlap,
            id_col=idc, text_col=txt,
        )
    elif args.op == "lm-score":
        from pyspark.sql import functions as F

        from res2df_spark.llm.lm import lm_quality_score, train_char_lm

        src = args.source_col
        if src not in df.columns:
            raise SystemExit(
                f"lm-score: column {src!r} not in input "
                f"(columns: {', '.join(df.columns)}); pass --source-col"
            )
        train_df = df.filter(F.col(src) == args.train_source)
        if train_df.limit(1).count() == 0:
            raise SystemExit(
                f"lm-score: --train-source {args.train_source!r} matches no "
                f"rows of {src!r} — a model trained on nothing would score "
                "every document at the smoothing floor"
            )
        model = train_char_lm(train_df, text_col=txt)
        out = lm_quality_score(df, model, id_col=idc, text_col=txt)
    elif args.op == "export-tar":
        from pyspark.sql import functions as F

        from res2df_spark.llm.multimodal import export_tar_shards

        if args.payload_col is None:
            df = df.withColumn("__payload", F.encode(F.col(txt), "utf-8"))
            payload = "__payload"
        else:
            payload = args.payload_col
        meta = [c.strip() for c in args.meta_cols.split(",") if c.strip()]
        out = export_tar_shards(
            df, args.output, n_shards=args.n_shards,
            id_col=idc, payload_col=payload, meta_cols=meta,
        )
        out.orderBy("shard").show(truncate=False)
        return 0
    elif args.op == "stats":
        from pyspark.sql import functions as F

        from res2df_spark.functions.textan import token_count

        src = args.source_col
        if src not in df.columns:
            raise SystemExit(
                f"stats: column {src!r} not in input "
                f"(columns: {', '.join(df.columns)}); pass --source-col"
            )
        n_tok = token_count(F.col(txt)).cast("double")
        out = (
            df.select(src, n_tok.alias("n_tok"))
            .groupBy(src)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.round(F.percentile("n_tok", 0.5), 4).alias("p50_tokens"),
                F.round(F.percentile("n_tok", 0.9), 4).alias("p90_tokens"),
                F.round(F.percentile("n_tok", 0.99), 4).alias("p99_tokens"),
            )
        )
    elif args.op == "decontaminate":
        from res2df_spark.llm.curation import contamination_check

        bench = spark.read.parquet(args.benchmark)
        out = contamination_check(
            df, bench, id_col=idc, text_col=txt,
            shingle_k=args.shingle_k, threshold=args.threshold,
        )
    elif args.op == "bm25":
        from pyspark.sql import functions as F

        from res2df_spark.llm.vocab import bm25_topk

        # the corpus side is lowercased by the tokenizer, so normalize
        # query terms the same way — 'Fox' must match 'fox'
        terms = [t.strip().lower() for t in args.terms.split(",") if t.strip()]
        if not terms:
            raise SystemExit("bm25: --terms must list at least one term")
        q = spark.createDataFrame(
            [("q0", t) for t in terms], "query_id string, term string"
        )
        out = bm25_topk(df, q, k=args.k, id_col=idc, text_col=txt)
    elif args.op == "entropy":
        from res2df_spark.llm.vocab import corpus_token_stats

        out = corpus_token_stats(df, id_col=idc, text_col=txt)
    elif args.op == "truncate-emb":
        from res2df_spark.llm.similarity import truncate_embeddings

        if args.vec_col not in df.columns:
            raise SystemExit(
                f"truncate-emb: column {args.vec_col!r} not in input "
                f"(columns: {', '.join(df.columns)}); pass --vec-col"
            )
        out = truncate_embeddings(
            df, dims=args.dims, renormalize=not args.no_renorm,
            id_col=idc, vec_col=args.vec_col,
        )
    elif args.op == "semantic-dedup":
        from pyspark.sql import functions as F

        from res2df_spark.llm.dedup import connected_components
        from res2df_spark.llm.similarity import (
            seed_centroids,
            semantic_dedup_pairs,
        )

        if args.vec_col not in df.columns:
            raise SystemExit(
                f"semantic-dedup: column {args.vec_col!r} not in input "
                f"(columns: {', '.join(df.columns)}); pass --vec-col"
            )
        k = max(df.count() // args.target_cluster, 8)
        centroids = seed_centroids(df, k, id_col=idc, vec_col=args.vec_col)
        pairs = semantic_dedup_pairs(
            df, centroids, threshold=args.threshold,
            id_col=idc, vec_col=args.vec_col,
            max_cluster_size=args.max_cluster_size,
        ).select(F.col("id_1").alias("d1"), F.col("id_2").alias("d2"))
        labels = connected_components(
            pairs, df.select(F.col(idc).alias("doc_id"))
        ).select(
            F.col("doc_id").alias(idc),
            "cluster_id",
            (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
        )
        if args.keep_only:
            out = df.join(
                labels.filter("keep").select(idc), idc, "left_semi"
            )
        else:
            out = labels
    elif args.op == "soft-dedup":
        from res2df_spark.llm.weights import soft_dedup_weights

        out = soft_dedup_weights(
            df, id_col=idc, text_col=txt, shingle_k=args.shingle_k
        )
    elif args.op == "dsir":
        from pyspark.sql import functions as F

        from res2df_spark.llm.weights import dsir_weights

        if args.target_col not in df.columns:
            raise SystemExit(
                f"dsir: column {args.target_col!r} not in input "
                f"(columns: {', '.join(df.columns)}); pass --target-col"
            )
        tgt = F.col(args.target_col) == args.target_value
        if df.filter(tgt).limit(1).count() == 0:
            raise SystemExit(
                f"dsir: --target-value {args.target_value!r} matches no rows "
                f"of {args.target_col!r} — weights against an empty target "
                "distribution are pure smoothing noise"
            )
        out = dsir_weights(df, tgt, id_col=idc, text_col=txt)
    elif args.op == "nb-score":
        from pyspark.sql import functions as F

        from res2df_spark.llm.weights import nb_quality_score

        if args.pos_col not in df.columns:
            raise SystemExit(
                f"nb-score: column {args.pos_col!r} not in input "
                f"(columns: {', '.join(df.columns)}); pass --pos-col"
            )
        vals = [v.strip() for v in args.pos_values.split(",") if v.strip()]
        pos = F.col(args.pos_col).isin(vals)
        pos_n = df.filter(pos).limit(1).count()
        neg_n = df.filter(~pos).limit(1).count()
        if pos_n == 0 or neg_n == 0:
            raise SystemExit(
                "nb-score: --pos-values must split the corpus into "
                "non-empty positive AND negative slices "
                f"(positive empty: {pos_n == 0}, negative empty: {neg_n == 0})"
            )
        out = nb_quality_score(df, pos, id_col=idc, text_col=txt)
    elif args.op == "line-dedup":
        from res2df_spark.llm.dedup import cross_doc_segment_dedup

        out = cross_doc_segment_dedup(
            df, id_col=idc, text_col=txt,
            window=args.window, max_df=args.max_df,
        )
    elif args.op == "containment":
        from res2df_spark.llm.dedup import containment_pairs

        out = containment_pairs(
            df, id_col=idc, text_col=txt, threshold=args.threshold,
            max_token_df=args.max_token_df or None, shingle_k=args.shingle_k,
        )
    elif args.op == "pagerank":
        from res2df_spark.operators.graph import pagerank

        for c in (args.src_col, args.dst_col):
            if c not in df.columns:
                raise SystemExit(
                    f"pagerank: column {c!r} not in input "
                    f"(columns: {', '.join(df.columns)}); "
                    "pass --src-col/--dst-col"
                )
        if args.weight_col is not None:
            from pyspark.sql import functions as F

            if args.weight_col not in df.columns:
                raise SystemExit(
                    f"pagerank: column {args.weight_col!r} not in input "
                    f"(columns: {', '.join(df.columns)}); pass --weight-col"
                )
            w = F.col(args.weight_col).cast("double")
            bad = w.isNull() | (w <= 0) | F.isnan(w) | (w == float("inf"))
            if df.filter(bad).limit(1).count() > 0:
                raise SystemExit(
                    f"pagerank: {args.weight_col!r} contains NULL, NaN, "
                    "infinite or non-positive weights — any of these "
                    "silently corrupts its source's mass share; clean "
                    "the edge table first"
                )
        out = pagerank(
            df, src_col=args.src_col, dst_col=args.dst_col,
            damping=args.damping, iterations=args.iterations,
            weight_col=args.weight_col,
            redistribute_dangling=args.redistribute_dangling,
        )
    elif args.op == "histogram":
        from res2df_spark.operators.profile import value_histogram

        if args.value_col not in df.columns:
            raise SystemExit(
                f"histogram: column {args.value_col!r} not in input "
                f"(columns: {', '.join(df.columns)}); pass --value-col"
            )
        out = value_histogram(
            df, args.value_col, n_bins=args.n_bins, lo=args.lo, hi=args.hi
        )
    elif args.op == "anomalies":
        from res2df_spark.operators.eventanalytics import value_anomalies

        for c in (args.key_col, args.value_col, idc):
            if c not in df.columns:
                raise SystemExit(
                    f"anomalies: column {c!r} not in input "
                    f"(columns: {', '.join(df.columns)}); "
                    "pass --key-col/--value-col/--id-col"
                )
        out = value_anomalies(
            df, user_col=args.key_col, value_col=args.value_col,
            id_col=idc, min_events=args.min_events,
            z_threshold=args.z_threshold,
        )
    else:  # pragma: no cover
        raise SystemExit(f"unknown op {args.op}")

    out.write.mode("overwrite").parquet(args.output)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
