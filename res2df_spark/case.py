"""Case-level user API — the engine's ``ResdataFiles``.

The reference's primary user surface is one object per simulation case
from which every datatype frame derives
(/root/reference/src/res2df/resdatafiles.py:40-247 +
tests/test_userapi.py)::

    case = ResdataCase(spark, "MYCASE.DATA")
    compdat = case.compdat()
    grid = case.grid(rstdates="last")
    smry = case.summary(time_index="monthly")

Everything is lazy: the deck text (INCLUDE-spliced), each binary scan
and the zonemap are read on first use and memoized.  Paths derive from
the ``.DATA`` stem exactly like the reference (CASE.SMSPEC, CASE.EGRID,
CASE.INIT, CASE.UNRST, CASE.RFT, CASE.PRT, zones.lyr, parameters.*).
Every method returns a Spark DataFrame; the heavy lifting lives in the
module layer, so this file is a thin, stable façade.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F


class ResdataCase:
    """Lazy, memoizing façade over one simulation case."""

    def __init__(self, spark: SparkSession, data_path: str):
        self.spark = spark
        p = str(data_path)
        #: the file the case was constructed with, AS GIVEN: the deck
        #: falls back to it when ``<root>.DATA`` does not exist (an
        #: include file, or a 'mycase.data' spelling on a case-sensitive
        #: filesystem), like the reference's ``get_deck``
        self._given = os.path.abspath(p)
        stem, ext = os.path.splitext(p)
        #: 'DATA' or 'PRT' when the case was named by that file, which
        #: then stands for its case root
        self._named = ext[1:].upper() if ext.upper() in (".DATA", ".PRT") else None
        if self._named:
            p = stem
        self.root = os.path.abspath(p)
        self._deck_text: str | None = None
        #: memo for binary-scan frames keyed by (method, params).
        #: grid_table/summary_long read the binaries eagerly at plan
        #: BUILD time, so re-calling without a memo would re-parse the
        #: files — the cache holds the (lazy) DataFrame plan objects.
        self._frames: dict[tuple, DataFrame] = {}

    # -- paths ---------------------------------------------------------

    def path(self, ext: str) -> str:
        """Sibling file path for an extension (``'SMSPEC'`` →
        ``<root>.SMSPEC``).  The deck, and a PRT file the case was
        constructed with, resolve to the file as given when the
        ``<root>.<ext>`` spelling does not exist."""
        p = f"{self.root}.{ext}"
        if (
            ext.upper() in ("DATA", self._named)
            and not os.path.isfile(p)
            and os.path.isfile(self._given)
        ):
            return self._given
        return p

    def _existing(self, ext: str) -> str | None:
        p = self.path(ext)
        return p if os.path.isfile(p) else None

    # -- deck ----------------------------------------------------------

    @property
    def deck_text(self) -> str:
        """INCLUDE-spliced deck text (sources/deck.read_deck),
        memoized."""
        if self._deck_text is None:
            from res2df_spark.sources.deck import read_deck

            self._deck_text = read_deck(self.path("DATA"))
        return self._deck_text

    def compdat(self) -> DataFrame:
        """Unrolled connection table in the reference's column shape
        (compdat.py df: one row per K layer, presented as K1 == K2,
        ``OP/SH`` status).  The engine-internal module keeps its
        single-K form for the downstream joins."""
        from res2df_spark.modules import compdat

        return compdat.to_reference_shape(compdat.df(self.spark, self.deck_text))

    def gruptree(self, startdate=None) -> DataFrame:
        from res2df_spark.modules import gruptree

        return gruptree.df(self.spark, self.deck_text, startdate=startdate)

    def satfunc(self, keywords=None) -> DataFrame | None:
        from res2df_spark.modules import tables

        return tables.satfunc_df(self.spark, self.deck_text, keywords=keywords)

    def pvt(self, keywords=None) -> DataFrame | None:
        from res2df_spark.modules import tables

        return tables.pvt_df(self.spark, self.deck_text, keywords=keywords)

    def equil(self, keywords=None) -> DataFrame | None:
        from res2df_spark.modules import tables

        return tables.equil_df(self.spark, self.deck_text, keywords=keywords)

    def faults(self) -> DataFrame:
        from res2df_spark.modules import faults

        return faults.df(self.spark, self.deck_text)

    def wcon(self) -> DataFrame:
        from res2df_spark.modules import wcon

        return wcon.df(self.spark, self.deck_text)

    def wlist(self) -> DataFrame:
        from res2df_spark.modules import wlist

        return wlist.df(self.spark, self.deck_text)

    def vfpprod(self) -> DataFrame | None:
        from res2df_spark.modules import vfp

        return vfp.df_prod(self.spark, self.deck_text)

    def vfpinj(self) -> DataFrame | None:
        from res2df_spark.modules import vfp

        return vfp.df_inj(self.spark, self.deck_text)

    # -- binary scans --------------------------------------------------

    def summary(self, time_index=None, column_keys=None,
                start_date=None, end_date=None,
                include_restart: bool = False) -> DataFrame:
        """Wide summary frame (S2 + W8), the reference's
        ``summary.df``.  ``include_restart`` stitches the restart-chain
        parents' history in front of this run (summary.py:299)."""
        from pyspark.sql import functions as F

        from res2df_spark.modules import summary as summary_mod
        from res2df_spark.sources import eclbin

        long = self._summary_long(include_restart=include_restart)
        if start_date:
            long = long.filter(
                F.col("DATE") >= F.lit(str(start_date)).cast("timestamp")
            )
        if end_date:
            long = long.filter(
                F.col("DATE")
                < F.date_add(F.lit(str(end_date)).cast("date"), 1)
            )
        # a bare string is ONE wildcard pattern, not an iterable of
        # characters (the reference accepts both str and list — its
        # column_keys handling in summary.py df())
        if isinstance(column_keys, str):
            column_keys = [column_keys]
        meta_key = ("summary_meta",)
        if meta_key not in self._frames:
            self._frames[meta_key] = eclbin.summary_meta(
                self.spark, self.path("SMSPEC")
            )
        out = summary_mod.df(
            long, self._frames[meta_key],
            time_index=time_index or "raw",
            column_keys=list(column_keys or []),
        )
        # the reference stamps smry_meta (unit/is_total/is_rate/...)
        # as Arrow field metadata on every summary export
        # (summary.py:567-599 + _df2pyarrow) — carried here on the
        # schema so --arrow keeps it
        return summary_mod.attach_summary_metadata(
            out, self._frames[meta_key]
        )

    def _summary_long(self, include_restart: bool = False) -> DataFrame:
        """Memoized long-form summary scan — SMSPEC/UNSMRY are parsed
        eagerly at plan build, so every consumer must share one
        frame."""
        from res2df_spark.sources import eclbin

        key = ("summary_long", include_restart)
        if key not in self._frames:
            self._frames[key] = eclbin.summary_long(
                self.spark, self.path("SMSPEC"),
                include_restart=include_restart,
            )
        return self._frames[key]

    def grid(self, rstdates=None, vectors="*", stackdates: bool = True,
             dateinheaders: bool = False,
             dropconstants: bool = False) -> DataFrame:
        """Geometry ⋈ INIT (⋈ UNRST when ``rstdates`` given) — the
        reference's ``grid.df`` (grid.py:476-536).  ``vectors`` /
        ``stackdates`` / ``dateinheaders`` / ``dropconstants`` pass
        through to :func:`res2df_spark.sources.eclbin.grid_table`;
        note the engine default ``stackdates=True`` (the Spark-native
        stacked DATE shape) — the CLI maps the reference's wide-shape
        default."""
        from res2df_spark.sources import eclbin

        unrst = self._existing("UNRST") if rstdates is not None else None
        if rstdates is not None and unrst is None:
            # asked-for restart data with no UNRST must be LOUD — a
            # silently restart-less frame would flow into downstream
            # joins as a structurally valid but wrong answer
            raise FileNotFoundError(
                f"rstdates={rstdates!r} requested but {self.path('UNRST')} "
                "does not exist"
            )
        key = ("grid", str(rstdates), str(vectors), stackdates,
               dateinheaders, dropconstants)
        if key not in self._frames:
            self._frames[key] = eclbin.grid_table(
                self.spark, self.path("EGRID"), self._existing("INIT"),
                unrst, rstdates=rstdates, vectors=vectors,
                stackdates=stackdates, dateinheaders=dateinheaders,
                dropconstants=dropconstants,
            )
        return self._frames[key]

    def rft(self, wellname: str | None = None,
            date: str | None = None) -> DataFrame:
        """Per-connection RFT table; ``wellname``/``date`` are the
        reference's P2 filters (rft.py:520-532, rft_main passes both
        straight to ``rft.df``) — exact-match predicates Catalyst pushes
        into the scan."""
        from res2df_spark.modules.rft import add_extras
        from res2df_spark.sources import eclbin

        out = add_extras(eclbin.rft_table(self.spark, self.path("RFT")))
        if wellname is not None:
            out = out.filter(F.col("WELL") == wellname)
        if date is not None:
            out = out.filter(F.to_date("DATE") == F.lit(str(date)))
        return out

    def nnc(self) -> DataFrame:
        from res2df_spark.sources import eclbin

        return eclbin.nnc_table(
            self.spark, self.path("EGRID"), self._existing("INIT")
        )

    def trans(self, directions: str = "IJK", vectors=None,
              boundaryfilter: bool = False, group: bool = False,
              coords: bool = False, onlykdir: bool = False,
              onlyijdir: bool = False, addnnc: bool = False) -> DataFrame:
        """Neighbour transmissibilities; with any composition flag set
        this is the reference's full ``trans.df()`` option surface
        (trans.py:21-219) — NNC union, per-cell vector merge, midpoint
        coords, boundary filter, interface grouping."""
        from res2df_spark.modules.grid import trans_df, trans_full

        plain = not (vectors or boundaryfilter or group or coords
                     or onlykdir or onlyijdir or addnnc)
        if plain:
            return trans_df(self.grid(), directions=directions)
        return trans_full(
            self.grid(), vectors=vectors, boundaryfilter=boundaryfilter,
            group=group, coords=coords, onlykdir=onlykdir,
            onlyijdir=onlyijdir, nnc=self.nnc() if addnnc else None,
            directions=directions,
        )

    def region_graph_edges(self, region: str = "FIPNUM") -> DataFrame:
        """Region-connectivity edges weighted by summed TRAN — the
        reference's ``trans.make_nx_graph`` artifact (trans.py:222-232)
        as a DataFrame; ``modules.grid.to_networkx`` converts when a
        driver-side graph object is wanted."""
        from res2df_spark.modules.grid import region_graph_edges

        return region_graph_edges(self.grid(), region=region)

    def pillars(self, region_col: str | None = None,
                rstdates=None, soilcutoff: float = 0.2,
                sgascutoff: float = 0.7, swatcutoff: float = 0.7,
                group: bool = False,
                stackdates: bool = False) -> DataFrame:
        """Per-pillar stats (A1/J13) — thin facade over
        :func:`res2df_spark.modules.grid.pillars_df` (the reference's
        ``pillars.df`` + ``pillars_main`` composition: phase volumes,
        OWC/GOC/GWC contacts per the three cutoffs — reference CLI
        defaults 0.5 — ``group`` aggregation, wide ``NAME@date`` pivot
        unless ``stackdates``).  ``rstdates`` defaults to None —
        static-only pillars work on cases without a UNRST.  An unknown
        ``region_col`` warns and is dropped (reference
        pillars.py:63-66); the module function raises instead."""
        import warnings

        from res2df_spark.modules.grid import pillars_df

        grid = self.grid(rstdates=rstdates)
        if region_col and region_col not in grid.columns:
            warnings.warn(
                f"Region parameter {region_col!r} not found, ignored",
                RuntimeWarning,
                stacklevel=2,
            )
            region_col = None
        return pillars_df(
            grid, region_col=region_col, soilcutoff=soilcutoff,
            sgascutoff=sgascutoff, swatcutoff=swatcutoff, group=group,
            stackdates=stackdates,
        )

    def fipreports(self, fipname: str = "FIPNUM") -> DataFrame:
        from res2df_spark.modules import fipreports

        return fipreports.df(self.spark, self.path("PRT"), fipname=fipname)

    def wellconnstatus(self) -> DataFrame:
        from res2df_spark.modules.wellconnstatus import from_summary

        return from_summary(self._summary_long())

    # -- auxiliary -----------------------------------------------------

    def get_zonemap(self, filename: str | None = None) -> DataFrame:
        """(K, ZONE) dim table from a lyr file — the reference's
        ``get_zonemap`` (resdatafiles.py:207-247): default
        ``zones.lyr`` next to the deck, silently empty when the
        DEFAULT name is absent; an explicit missing filename raises
        (a Spark engine should fail loudly on a named input)."""
        from res2df_spark.sources.aux import zonemap_df

        defaulted = filename is None
        name = filename or "zones.lyr"
        path = (
            name
            if os.path.isabs(name)
            else os.path.join(os.path.dirname(self.root), name)
        )
        if not os.path.isfile(path):
            if defaulted:
                return self.spark.createDataFrame([], "K int, ZONE string")
            raise FileNotFoundError(path)
        with open(path) as f:
            return zonemap_df(self.spark, f.read())

    def parameters(self) -> dict:
        """Merged parameters.* discovery (S9) rooted at the case."""
        from res2df_spark.sources.aux import load_parameters

        return load_parameters(self.path("DATA"))

    def wellcompletiondata(self, zonemap: DataFrame | None = None,
                           excl_well_startswith: str | None = None,
                           use_wellconnstatus: bool = False
                           ) -> DataFrame:
        """compdat ⋈ zonemap → per-zone OPEN/KH aggregate (J11).

        ``use_wellconnstatus=True`` swaps the schedule-file OPEN/SHUT
        timeline for CPI-derived connection-status events (reference
        wellcompletiondata.py:82-84 → _merge_compdat_and_connstatus).
        The KH column carries its unit (mDm/mDft/mDcm per the deck's
        unit-system keyword) as column metadata, like the reference's
        Arrow field metadata (wellcompletiondata.py:88-96)."""
        from res2df_spark.modules import compdat, wellcompletiondata

        zmap = zonemap if zonemap is not None else self.get_zonemap()
        # the aggregate consumes the engine-internal single-K shape
        conns = compdat.df(self.spark, self.deck_text)
        connstatus = self.wellconnstatus() if use_wellconnstatus else None
        out = wellcompletiondata.df(
            conns, zmap.select("K", "ZONE"),
            excl_well_prefix=excl_well_startswith,
            connstatus=connstatus,
        )
        return wellcompletiondata.attach_kh_metadata(
            out, wellcompletiondata.detect_unit_system(self.deck_text)
        )
