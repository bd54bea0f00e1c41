"""The benchmark's workloads, written as a client of scida_spark's public
functions. Each op is built (construct), optionally planned (traced runs
only), executed and fetched; its output is checked against the
generator's truth after the timed region.

* ``halo_catalog``: ten analysis ops over the h5_shim multi-file
  snapshot -- recipes and units, catalog offsets and IDs, segmented
  aggregation, histogram, PBC cutout, running sum and the write path.
* ``halo_selectors``: a closed-loop stream of positional halo/subhalo
  selections over the npy-dir view, each reducing mass, centre of mass
  and a radial profile.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Callable

import numpy as np

import gen

REL = 1e-9  # tolerance for float sums; IDs and counts are exact
SELECT_PASS = 10  # requests per selector pass
NPY_ROWS_PER_SPLIT = 1 << 16
LAYERS = ("fields", "catalog", "histogram", "spatial", "prefix_sum", "dataset", "sources")
HALO_SHARE = 0.8  # share of selector requests that target halos
ZIPF_A = 1.2


@dataclass
class Op:
    name: str
    layer: str  # module the op measures: fields, catalog, histogram, ...
    construct: Callable  # ctx -> DataFrame | callable (write actions)
    check: Callable  # (result, ctx) -> list of error strings


@dataclass
class Ctx:
    spark: object
    snapdir: str
    warehouse: str
    truth: dict | None
    rec: object = None  # tracing.Recorder
    ds: object = None
    cpus: int = 1
    state: dict = field(default_factory=dict)
    gas_np: dict | None = None


def _rel_ok(got, want) -> bool:
    got, want = float(got), float(want)
    return abs(got - want) <= REL * max(abs(want), 1e-300)


# --------------------------------------------------------------------------
# halo_catalog
# --------------------------------------------------------------------------


def catalog_setup(ctx: Ctx) -> None:
    from scida_spark.dataset import register_default_fields
    from scida_spark.sources.hdf5 import load_hdf5_dataset

    ctx.ds = load_hdf5_dataset(
        os.path.join(ctx.snapdir, "snap"), ctx.spark,
        rows_per_split=1 << 17, backend="scida_spark.sources.h5_shim",
    )
    register_default_fields(ctx.ds["gas"])


def _group_cat(ctx):
    from pyspark.sql import functions as F

    return ctx.ds["Group"].df.select(
        F.col("uid").alias("GroupID"),
        F.col("GroupLenType")[0].alias("GroupLen"),
        F.col("GroupFirstSub"),
        F.col("GroupNsubs"),
    )


def _op_temperature(ctx):
    from pyspark.sql import functions as F

    gas = ctx.ds["gas"]
    temp = gas["Temperature"]
    msun = gas.with_units("Masses").to("Msun").col
    return gas.df.agg(
        F.sum(temp).alias("tsum"), F.min(temp).alias("tmin"),
        F.max(temp).alias("tmax"), F.sum(msun).alias("msun"),
    )


def _check_temperature(rows, ctx):
    t, r = ctx.truth, rows[0]
    factor = 1e10 / gen.HUBBLE
    errs = []
    if not _rel_ok(r["tsum"], t["temp_sum"]):
        errs.append(f"temperature sum {r['tsum']} != {t['temp_sum']}")
    if r["tmin"] != t["temp_min"] or r["tmax"] != t["temp_max"]:
        errs.append("temperature min/max differ")
    if not _rel_ok(r["msun"], t["mass_sum"] * factor):
        errs.append(f"mass in Msun {r['msun']} != {t['mass_sum'] * factor}")
    return errs


def _op_group_offsets(ctx):
    from scida_spark.operators import catalog as C

    return C.group_offsets(_group_cat(ctx), "GroupLen", "GroupID").select(
        "GroupID", "offset"
    )


def _check_group_offsets(rows, ctx):
    got = np.array(sorted((r["GroupID"], r["offset"]) for r in rows), np.int64)
    want = ctx.truth["group_offsets"]
    if got.shape != (len(want), 2) or not np.array_equal(got[:, 1], want):
        return ["group offsets differ"]
    return []


def _id_ranges(df, id_col, extra=()):
    from pyspark.sql import functions as F

    return df.groupBy(id_col).agg(
        F.count("*").alias("n"), F.min("uid").alias("lo"), F.max("uid").alias("hi"),
        *extra,
    )


def _check_ranges(rows, id_col, starts, lens, n_total):
    """Exact check that each id owns uids [start, start+len) and the
    sentinel owns every other uid."""
    got = {r[id_col]: r for r in rows}
    errs = []
    n_ids = int((lens > 0).sum())
    if len(got) != n_ids + (1 if lens.sum() < n_total else 0):
        errs.append(f"{id_col}: {len(got)} ids, expected {n_ids} (+ sentinel)")
    for i, (s, n) in enumerate(zip(starts.tolist(), lens.tolist())):
        if n == 0:
            continue
        r = got.get(i)
        if r is None or (r["n"], r["lo"], r["hi"]) != (n, s, s + n - 1):
            errs.append(f"{id_col}={i}: got {None if r is None else (r['n'], r['lo'], r['hi'])}")
            break
    sent = got.get(gen.SENTINEL)
    if sent is not None and sent["n"] != n_total - lens.sum():
        errs.append(f"{id_col} sentinel count {sent['n']}")
    return errs


def _op_group_ids(ctx):
    from scida_spark.operators import catalog as C

    gas = ctx.ds["gas"].df
    cat = _group_cat(ctx).select("GroupID", "GroupLen")
    ctx.state["gid"] = C.add_group_ids_auto(gas, cat)
    return _id_ranges(ctx.state["gid"], "GroupID")


def _check_group_ids(rows, ctx):
    t = ctx.truth
    return _check_ranges(rows, "GroupID", t["group_offsets"], t["group_len_gas"],
                         int(t["n_gas"]))


def _op_subhalo_ids(ctx):
    from pyspark.sql import functions as F

    from scida_spark.operators import catalog as C

    scat = ctx.ds["Subhalo"].df.select(
        F.col("uid").alias("SubhaloID"), F.col("SubhaloLenType")[0].alias("SubhaloLen")
    )
    # The header's catalog sizes spare add_subhalo_ids_auto its count jobs.
    hdr = ctx.ds.metadata["attrs"]["/Header"]
    ctx.state["ids"] = C.add_subhalo_ids_auto(
        ctx.state["gid"], _group_cat(ctx), scat,
        n_catalog=int(hdr["Ngroups_Total"]) + int(hdr["Nsubhalos_Total"]),
    )
    return _id_ranges(
        ctx.state["ids"], "SubhaloID",
        (F.min("LocalSubhaloID").alias("lmin"), F.max("LocalSubhaloID").alias("lmax")),
    )


def _check_subhalo_ids(rows, ctx):
    t = ctx.truth
    errs = _check_ranges(rows, "SubhaloID", t["sub_start"], t["sub_len_gas"],
                         int(t["n_gas"]))
    first = np.searchsorted(t["sub_grnr"], np.arange(len(t["group_len_gas"])))
    local = np.arange(len(t["sub_grnr"])) - first[t["sub_grnr"]]
    for r in rows:
        sid = r["SubhaloID"]
        want = gen.SENTINEL if sid == gen.SENTINEL else int(local[sid])
        if r["lmin"] != want or r["lmax"] != want:
            errs.append(f"LocalSubhaloID of subhalo {sid}: {r['lmin']}..{r['lmax']} != {want}")
            break
    return errs


def _op_grouped(ctx):
    from scida_spark.operators import catalog as C

    return C.grouped(ctx.state["gid"], ["Masses"]).sum().min().max().evaluate()


def _check_grouped(rows, ctx):
    t = ctx.truth
    got = {r["GroupID"]: r for r in rows}
    if set(got) != set(t["grouped_ids"].tolist()):
        return [f"grouped: {len(got)} groups, expected {len(t['grouped_ids'])}"]
    for g, s, lo, hi in zip(t["grouped_ids"].tolist(), t["grouped_sum"],
                            t["grouped_min"], t["grouped_max"]):
        r = got[g]
        if not _rel_ok(r["sum_Masses"], s) or r["min_Masses"] != lo or r["max_Masses"] != hi:
            return [f"grouped: group {g} differs"]
    return []


def _segment_stats(pdf):
    import pandas as pd

    m = pdf["Masses"].to_numpy()
    return pd.DataFrame({
        "GroupID": [int(pdf["GroupID"].iloc[0])],
        "n": [len(pdf)],
        "msum": [float(m.sum())],
        "tmax": [float(pdf["Temperature"].max())],
        "rho_msum": [float((m * pdf["Density"].to_numpy()).sum())],
    })


def _op_segmented(ctx):
    from pyspark.sql import functions as F

    from scida_spark.operators import catalog as C

    df = ctx.state["gid"].filter(F.col("GroupID") < gen.TOP_HALOS).select(
        "GroupID", "Masses", "Density", ctx.ds["gas"]["Temperature"].alias("Temperature")
    )
    return C.segmented_apply(
        df, "GroupID", _segment_stats,
        "GroupID long, n long, msum double, tmax double, rho_msum double",
        num_partitions=ctx.cpus,
    )


def _check_segmented(rows, ctx):
    t = ctx.truth
    got = sorted(rows, key=lambda r: r["GroupID"])
    if [r["GroupID"] for r in got] != list(range(len(t["seg_n"]))):
        return [f"segmented_apply: groups {[r['GroupID'] for r in got][:5]}..."]
    for r, n, ms, tm, rho in zip(got, t["seg_n"], t["seg_msum"], t["seg_tmax"],
                                 t["seg_rho_msum"]):
        if r["n"] != n or r["tmax"] != tm or not _rel_ok(r["msum"], ms) \
                or not _rel_ok(r["rho_msum"], rho):
            return [f"segmented_apply: halo {r['GroupID']} differs"]
    return []


def _op_histogram(ctx):
    from scida_spark.operators.histogram import histogram2d

    (xlo, xhi), (ylo, yhi) = ctx.truth["hist_ranges"].tolist()
    gas = ctx.ds["gas"]
    df = gas.df.select("Density", gas["Temperature"].alias("Temperature"))
    return histogram2d(df, "Density", "Temperature", (xlo, xhi), (ylo, yhi), gen.HIST_BINS)


def _check_histogram(rows, ctx):
    got = np.zeros(gen.HIST_BINS, np.int64)
    for r in rows:
        got[r["xbin"], r["ybin"]] = r["count"]
    return [] if np.array_equal(got, ctx.truth["hist"]) else ["histogram2d counts differ"]


def _op_cutout(ctx):
    from pyspark.sql import functions as F

    from scida_spark.operators.spatial import rect_cutout

    cut = rect_cutout(ctx.ds["gas"].df, "Coordinates", list(gen.CUTOUT_CENTER),
                      list(gen.CUTOUT_WIDTHS), gen.BOX)
    return cut.agg(F.count("*").alias("n"), F.sum("Masses").alias("msum"))


def _check_cutout(rows, ctx):
    r, t = rows[0], ctx.truth
    if r["n"] != t["cutout_count"] or not _rel_ok(r["msum"], t["cutout_msum"]):
        return [f"rect_cutout: ({r['n']}, {r['msum']}) != ({t['cutout_count']}, {t['cutout_msum']})"]
    return []


def _op_running(ctx):
    from pyspark.sql import functions as F

    from scida_spark.operators.prefix_sum import global_running_sum

    df = ctx.ds["gas"].df.select(
        "uid", "Masses", F.floor(F.col("uid") / gen.RUNNING_BLOCK).alias("blk")
    )
    run = global_running_sum(df, "Masses", "blk", "uid")
    spot = F.when(F.col("uid") % gen.RUNNING_SPOT == 0, F.col("running"))
    return run.agg(F.sum("running").alias("s"), F.max("running").alias("mx"),
                   F.sum(spot).alias("spot"))


def _check_running(rows, ctx):
    r, t = rows[0], ctx.truth
    got = tuple(int(Decimal(r[k]).scaleb(6)) for k in ("mx", "s", "spot"))
    want = (int(t["running_total_q"]), int(str(t["running_sum_q"])),
            int(str(t["running_spot_q"])))
    return [] if got == want else [f"global_running_sum {got} != {want}"]


def _op_save(ctx):
    from pyspark.sql import functions as F

    from scida_spark.dataset import Dataset
    from scida_spark.fields import FieldContainer

    gas = ctx.ds["gas"]
    df = ctx.state["ids"].select(
        "uid", "Masses", "GroupID", "SubhaloID",
        gas["Temperature"].alias("Temperature"), F.col("ParticleIDs"),
    )
    cont = FieldContainer(df, name="gas", ureg=ctx.ds.ureg)
    cont.field_units.update({"Temperature": "K", "Masses": gas.field_units.get("Masses", "")})
    root = FieldContainer(name="annotated")
    root["gas"] = cont
    out = os.path.join(ctx.warehouse, "annotated")
    ds = Dataset(path=out, data=root, metadata={"source": "perfbench"}, ureg=ctx.ds.ureg)
    return lambda: ds.save(out)


def _check_save(_result, ctx):
    import pyarrow.parquet as pq

    path = os.path.join(ctx.warehouse, "annotated", "gas.parquet")
    tab = pq.read_table(path, columns=["Masses", "GroupID"])
    n = int(ctx.truth["n_gas"])
    errs = []
    if tab.num_rows != n:
        errs.append(f"save: {tab.num_rows} rows != {n}")
    elif not _rel_ok(np.sum(tab.column("Masses").to_numpy()), ctx.truth["mass_sum"]):
        errs.append("save: mass sum differs")
    bound = int(ctx.truth["group_len_gas"].sum())
    if tab.num_rows == n and int((tab.column("GroupID").to_numpy() != gen.SENTINEL).sum()) != bound:
        errs.append("save: GroupID column differs")
    return errs


CATALOG_OPS = [
    Op("temperature_units", "fields", _op_temperature, _check_temperature),
    Op("group_offsets", "catalog", _op_group_offsets, _check_group_offsets),
    Op("add_group_ids_auto", "catalog", _op_group_ids, _check_group_ids),
    Op("add_subhalo_ids_auto", "catalog", _op_subhalo_ids, _check_subhalo_ids),
    Op("grouped_sum_min_max", "catalog", _op_grouped, _check_grouped),
    Op("segmented_apply", "catalog", _op_segmented, _check_segmented),
    Op("histogram2d", "histogram", _op_histogram, _check_histogram),
    Op("pbc_rect_cutout", "spatial", _op_cutout, _check_cutout),
    Op("global_running_sum", "prefix_sum", _op_running, _check_running),
    Op("dataset_save", "dataset", _op_save, _check_save),
]


# --------------------------------------------------------------------------
# halo_selectors
# --------------------------------------------------------------------------


def selector_setup(ctx: Ctx) -> None:
    """Load the npy-dir view and collect the catalog offsets (halo and
    subhalo uid intervals) to the driver."""
    from pyspark.sql import functions as F

    from scida_spark.operators import catalog as C
    from scida_spark.sources.npy import load_npy_dataset

    ctx.ds = load_npy_dataset(os.path.join(ctx.snapdir, "npy"), ctx.spark,
                              rows_per_split=NPY_ROWS_PER_SPLIT)
    gcat = ctx.ds["Group"].df.select(
        F.col("uid").alias("GroupID"), F.col("GroupLenType")[0].alias("GroupLen"), "GroupPos",
    )
    scat = ctx.ds["Subhalo"].df.select(
        "uid", F.col("SubhaloLenType")[0].alias("SubhaloLen"), "SubhaloGrNr", "SubhaloPos",
    )
    with ctx.rec.span("catalog.offsets"):
        halos = C.group_offsets(gcat, "GroupLen", "GroupID").orderBy("GroupID").toPandas()
        subs = scat.orderBy("uid").toPandas()
    # Subhalo intervals: halo offset + the lengths of earlier siblings.
    off = halos["offset"].to_numpy()
    slen = subs["SubhaloLen"].to_numpy()
    grnr = subs["SubhaloGrNr"].to_numpy()
    csum = np.concatenate([[0], np.cumsum(slen)])
    first = np.searchsorted(grnr, grnr)  # index of each halo's first subhalo
    start = off[grnr] + csum[:-1] - csum[first]
    ctx.state["halos"] = [
        (int(o), int(o + n), tuple(p)) for o, n, p in
        zip(off, halos["GroupLen"], halos["GroupPos"])
    ]
    ctx.state["subs"] = [
        (int(a), int(a + n), tuple(p)) for a, n, p in zip(start, slen, subs["SubhaloPos"])
    ]


def selector_targets(seed: int, n_halo: int, n_sub: int, count: int) -> list[tuple[str, int]]:
    """Seeded request targets: 80% halos, 20% subhalos, Zipf-skewed
    toward the most massive (lowest index). The draw is stratified, so
    the mix of target sizes barely changes from seed to seed."""
    rng = np.random.default_rng([seed, 7])
    n_halos = round(count * HALO_SHARE)

    def zipf(n, k):
        cdf = np.cumsum(1.0 / np.arange(1, n + 1) ** ZIPF_A)
        u = (np.arange(k) + rng.random(k)) / k * cdf[-1]
        return np.minimum(np.searchsorted(cdf, u), n - 1)

    targets = [("halo", int(h)) for h in zipf(n_halo, n_halos)]
    targets += [("sub", int(s)) for s in zipf(n_sub, count - n_halos)]
    return [targets[i] for i in rng.permutation(count)]


def _request(ctx, kind, idx):
    """(uid lo, uid hi, centre, profile radius) of one target."""
    lo, hi, centre = (ctx.state["halos"] if kind == "halo" else ctx.state["subs"])[idx]
    return lo, hi, centre, 3.0 * gen.SCATTER * float(np.cbrt(max(hi - lo, 1)))


def request_df(ctx, kind, idx):
    from pyspark.sql import functions as F

    from scida_spark.operators.spatial import pbc_radial_distance

    lo, hi, centre, rmax = _request(ctx, kind, idx)
    df = ctx.ds["PartType0"].df.filter((F.col("uid") >= lo) & (F.col("uid") < hi))
    xyz = [F.col("Coordinates")[i] for i in range(3)]
    r = pbc_radial_distance(xyz, list(centre), gen.BOX)
    width = rmax / gen.PROFILE_BINS
    b = F.least(F.floor(r / F.lit(width)), F.lit(gen.PROFILE_BINS)).cast("int")
    m = F.col("Masses")
    return df.groupBy(b.alias("bin")).agg(
        F.count("*").alias("n"), F.sum(m).alias("m"),
        *(F.sum(m * x).alias(f"mx{i}") for i, x in enumerate(xyz)),
    )


def check_request(rows, ctx, kind, idx):
    """Profile counts exact; mass and mass-weighted position sums 1e-9."""
    lo, hi, centre, rmax = _request(ctx, kind, idx)
    if ctx.gas_np is None:
        ctx.gas_np = gen.load_gas(ctx.snapdir)
    xyz = ctx.gas_np["Coordinates"][lo:hi]
    m = ctx.gas_np["Masses"][lo:hi]
    total = 0.0
    for ax in range(3):
        d = gen.pbc_dist_np(xyz[:, ax], centre[ax])
        total = total + d * d
    width = rmax / gen.PROFILE_BINS
    b = np.minimum(np.floor(np.sqrt(total) / width), gen.PROFILE_BINS).astype(int)
    want_n = np.bincount(b, minlength=gen.PROFILE_BINS + 1)
    got_n = np.zeros(gen.PROFILE_BINS + 1, np.int64)
    sums = np.zeros(4)
    for r in rows:
        got_n[r["bin"]] = r["n"]
        sums += [r["m"], r["mx0"], r["mx1"], r["mx2"]]
    want = [m.sum(), *(np.sum(m * xyz[:, i]) for i in range(3))]
    if not np.array_equal(got_n, want_n):
        return [f"{kind} {idx}: profile counts differ"]
    if not all(_rel_ok(g, w) for g, w in zip(sums, want)):
        return [f"{kind} {idx}: mass sums differ"]
    return []
