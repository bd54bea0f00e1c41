"""Seeded Arepo-like snapshot generator with a numpy ground-truth sidecar.

One call writes, for a (seed, n_part) pair:

* ``snap/snap.<i>.h5dir`` -- an 8-file series in the ``h5_shim``
  directory-store layout (groups are directories, datasets ``.npy``
  files, attributes ``_attrs.json``) holding ``Header``, ``PartType0``
  (gas), ``PartType1`` (dark matter), ``Group`` and ``Subhalo``;
* ``npy/<container>/<field>.npy`` -- the same gas particles and catalog
  as a npy-dir tree, for the ``npydir`` Python Data Source;
* ``truth.npz`` -- arrays the checks compare against, all computed here
  in numpy with the same floating-point expression order the engine uses
  (so bin edges and masks agree bit for bit).

Particle order follows the Arepo convention (FIXTURES.md sections 1-4):
the particles of halo g are contiguous and ordered by g; inside a halo
the members of each subhalo are contiguous and ordered by subhalo, then
the inner fuzz; the unbound particles form the tail. Halo lengths follow a
Pareto profile and halos are stored largest first.

Outputs are byte-identical for the same (seed, n_part) and are cached
under ``<cache>/<seed>-<n_part>-v<GEN_VERSION>``.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np

GEN_VERSION = 4
NFILES = 8
BOX = 35000.0  # TNG50-sized box: the simulation config then applies code units
HUBBLE = 0.6774
MASS_QUANTUM = 1e-6  # masses are whole multiples, exact in decimal(38,6)
PART_PER_HALO = 84  # ~5e4 halos for 2**22 particles
BOUND_FRACTION = 0.8
SENTINEL = np.iinfo(np.int64).max
CACHE_KEEP = 3  # snapshots kept in the cache, newest first

# Physics constants and expression order of scida_spark.functions.physics.
XH = 0.76
GAMMA = 5.0 / 3.0
M_P = 1.672622e-24
K_B = 1.380650e-16

# Fixed analysis parameters shared by the workloads and the truth.
TOP_HALOS = 32  # segmented_apply runs over the TOP_HALOS largest halos
HIST_BINS = (32, 32)
CUTOUT_CENTER = (0.01 * BOX, 0.99 * BOX, 0.5 * BOX)  # straddles two faces
CUTOUT_WIDTHS = (0.08 * BOX, 0.08 * BOX, 0.3 * BOX)
RUNNING_BLOCK = 1 << 14  # global_running_sum key = uid // RUNNING_BLOCK
RUNNING_SPOT = 1 << 12  # spot values at uid % RUNNING_SPOT == 0
PROFILE_BINS = 16
SCATTER = 8.0  # member scatter around a centre is SCATTER * cbrt(halo length)

HEADER = {
    "BoxSize": BOX,
    "HubbleParam": HUBBLE,
    "Omega0": 0.3089,
    "OmegaBaryon": 0.0486,
    "OmegaLambda": 0.6911,
    "Redshift": 0.0,
    "Time": 1.0,
    "Git_commit": "perfbench-synthetic",
    "NumFilesPerSnapshot": NFILES,
    "UnitLength_in_cm": 3.085678e21,
    "UnitMass_in_g": 1.989e43,
    "UnitVelocity_in_cm_per_s": 1e5,
}


def temperature_np(xe: np.ndarray, u: np.ndarray) -> np.ndarray:
    """physics.temperature, term for term."""
    mu = 4.0 / ((1.0 + 3.0 * XH) + (4.0 * XH) * xe) * M_P
    return 1e10 * (GAMMA - 1.0) * u / K_B * mu


def pbc_dist_np(x: np.ndarray, c: float) -> np.ndarray:
    """spatial.pbc_distance_1d, term for term."""
    d = np.abs(x - c)
    return np.where(d > BOX / 2.0, BOX - d, d)


def bin_index_np(x: np.ndarray, lo: float, hi: float, nbins: int) -> np.ndarray:
    """histogram._bin_index, term for term."""
    width = (hi - lo) / nbins
    return np.minimum(np.floor((x - lo) / width).astype(np.int64), nbins - 1)


def _split_lengths(rng, total: np.ndarray, parts: np.ndarray, frac_lo: float) -> list:
    """Per halo, split ``frac * total`` members into ``parts`` subhalos
    (largest first); the rest of the halo is inner fuzz."""
    out = []
    for t, k in zip(total.tolist(), parts.tolist()):
        if k == 0:
            continue
        bound = int(t * rng.uniform(frac_lo, 0.95))
        w = np.sort(rng.dirichlet(np.ones(k)))[::-1]
        lens = np.floor(w * bound).astype(np.int64)
        out.append(lens)
    return out


def build(seed: int, n_part: int) -> dict:
    """All arrays of one snapshot plus its truth, in memory."""
    rng = np.random.default_rng([seed, n_part, GEN_VERSION])
    n_halo = max(8, n_part // PART_PER_HALO)

    def halo_lengths():
        # Pareto quantiles at evenly spaced probabilities: the length
        # profile, which sets most of the ops' cost, is the same for
        # every seed; positions, fields and subhalo splits are drawn.
        u = (np.arange(n_halo) + rng.uniform(0.25, 0.75)) / n_halo
        raw = 8.0 * (1.0 - u) ** (-1.0 / 1.3)
        raw *= BOUND_FRACTION * n_part / raw.sum()
        return np.sort(np.maximum(np.floor(raw), 2).astype(np.int64))[::-1]

    glen_gas = halo_lengths()
    glen_dm = halo_lengths()
    nsubs = rng.poisson(1.6, n_halo).astype(np.int64)
    nsubs[rng.random(n_halo) < 0.12] = 0
    nsubs[0] = max(nsubs[0], 3)
    # add_subhalo_ids indexes past the subhalo table when the last halo
    # has no subhalos (an IndexError); keep the workload clear of it.
    nsubs[-1] = max(nsubs[-1], 1)
    sub_gas = _split_lengths(rng, glen_gas, nsubs, 0.6)
    sub_dm = _split_lengths(rng, glen_dm, nsubs, 0.7)
    slen_gas = np.concatenate(sub_gas) if sub_gas else np.zeros(0, np.int64)
    slen_dm = np.concatenate(sub_dm) if sub_dm else np.zeros(0, np.int64)
    n_sub = len(slen_gas)
    first_sub = np.concatenate([[0], np.cumsum(nsubs)[:-1]]).astype(np.int64)
    first_sub[nsubs == 0] = -1
    sub_grnr = np.repeat(np.arange(n_halo, dtype=np.int64), nsubs)

    gpos = rng.uniform(0.0, BOX, (n_halo, 3))
    # The largest halo sits on a box corner, inside the PBC cutout.
    gpos[0] = (0.002 * BOX, 0.997 * BOX, 0.5 * BOX)
    spos = np.mod(gpos[sub_grnr] + rng.normal(0.0, 60.0, (n_sub, 3)), BOX)

    def particles(glen, slen, n):
        """Halo offsets, subhalo starts, per-particle halo and subhalo ids
        and positions."""
        goff = np.concatenate([[0], np.cumsum(glen)]).astype(np.int64)
        gid = np.full(n, SENTINEL, np.int64)
        sid = np.full(n, SENTINEL, np.int64)
        gid[: goff[-1]] = np.repeat(np.arange(n_halo, dtype=np.int64), glen)
        sstart = np.empty(n_sub, np.int64)
        for h in range(n_halo):
            k = nsubs[h]
            if k:
                f = first_sub[h]
                starts = goff[h] + np.concatenate([[0], np.cumsum(slen[f : f + k])[:-1]])
                sstart[f : f + k] = starts
        for s in range(n_sub):
            sid[sstart[s] : sstart[s] + slen[s]] = s
        # Members scatter around their subhalo (or halo) centre.
        centre = np.empty((n, 3))
        centre[: goff[-1]] = gpos[gid[: goff[-1]]]
        bound_sub = sid != SENTINEL
        centre[bound_sub] = spos[sid[bound_sub]]
        scale = np.full(n, 0.0)
        scale[: goff[-1]] = SCATTER * np.cbrt(glen[gid[: goff[-1]]].astype(np.float64))
        coords = centre + rng.normal(0.0, 1.0, (n, 3)) * scale[:, None]
        tail = goff[-1]
        coords[tail:] = rng.uniform(0.0, BOX, (n - tail, 3))
        coords = np.mod(coords, BOX)
        return goff, sstart, gid, sid, coords

    goff, sstart, gid, _, coords = particles(glen_gas, slen_gas, n_part)
    dm_coords = particles(glen_dm, slen_dm, n_part)[-1]

    mass_q = rng.integers(500_000, 1_500_001, n_part).astype(np.int64)
    masses = mass_q * MASS_QUANTUM
    bound = gid != SENTINEL
    density = np.exp(rng.normal(-2.0, 1.0, n_part)) * np.where(bound, 30.0, 1.0)
    u = np.exp(rng.normal(7.0, 1.2, n_part))
    xe = rng.uniform(0.0, 1.2, n_part)
    gas_ids = (rng.permutation(n_part) + 1).astype(np.uint64)
    dm_ids = (rng.permutation(n_part) + 1 + n_part).astype(np.uint64)
    dm_mass = 0.0045

    glentype = np.zeros((n_halo, 6), np.int64)
    glentype[:, 0], glentype[:, 1] = glen_gas, glen_dm
    slentype = np.zeros((n_sub, 6), np.int64)
    slentype[:, 0], slentype[:, 1] = slen_gas, slen_dm
    gas_msum = np.add.reduceat(masses, goff[:-1]) if n_halo else np.zeros(0)
    gmass = gas_msum + dm_mass * glen_dm
    smass = np.array(
        [masses[a : a + n].sum() for a, n in zip(sstart, slen_gas)]
    ) + dm_mass * slen_dm

    arrays = {
        "PartType0": {
            "Coordinates": coords,
            "Masses": masses,
            "Density": density,
            "InternalEnergy": u,
            "ElectronAbundance": xe,
            "ParticleIDs": gas_ids,
        },
        "PartType1": {"Coordinates": dm_coords, "ParticleIDs": dm_ids},
        "Group": {
            "GroupLenType": glentype,
            "GroupLen": glentype.sum(axis=1),
            "GroupNsubs": nsubs,
            "GroupFirstSub": first_sub,
            "GroupPos": gpos,
            "GroupMass": gmass,
        },
        "Subhalo": {
            "SubhaloLenType": slentype,
            "SubhaloLen": slentype.sum(axis=1),
            "SubhaloGrNr": sub_grnr,
            "SubhaloPos": spos,
            "SubhaloMass": smass,
        },
    }
    truth = _truth(arrays, mass_q, goff, sstart)
    return {"arrays": arrays, "truth": truth}


def _truth(arrays, mass_q, goff, sstart) -> dict:
    gas = arrays["PartType0"]
    masses, coords = gas["Masses"], gas["Coordinates"]
    n = len(masses)
    temp = temperature_np(gas["ElectronAbundance"], gas["InternalEnergy"])
    glen = arrays["Group"]["GroupLenType"][:, 0]
    slen = arrays["Subhalo"]["SubhaloLenType"][:, 0]
    n_halo = len(glen)

    # grouped(Masses).sum().min().max() per GroupID, unbound tail last.
    seg = np.concatenate([goff[:-1], [goff[-1]]]) if goff[-1] < n else goff[:-1]
    g_sum = np.add.reduceat(masses, seg)
    g_min = np.minimum.reduceat(masses, seg)
    g_max = np.maximum.reduceat(masses, seg)
    g_ids = np.arange(len(seg), dtype=np.int64)
    if goff[-1] < n:
        g_ids[-1] = SENTINEL

    # segmented_apply over the largest halos.
    top = min(TOP_HALOS, n_halo)
    seg_n = glen[:top]
    seg_msum = np.array([masses[goff[h] : goff[h + 1]].sum() for h in range(top)])
    seg_tmax = np.array([temp[goff[h] : goff[h + 1]].max() for h in range(top)])
    seg_rho = np.array(
        [
            (masses[goff[h] : goff[h + 1]] * gas["Density"][goff[h] : goff[h + 1]]).sum()
            for h in range(top)
        ]
    )

    # histogram2d(Density, Temperature) with ranges fixed from the data.
    rho, hist_ranges = gas["Density"], _hist_ranges(gas["Density"], temp)
    (xlo, xhi), (ylo, yhi) = hist_ranges
    keep = (rho >= xlo) & (rho <= xhi) & (temp >= ylo) & (temp <= yhi)
    xb = bin_index_np(rho[keep], xlo, xhi, HIST_BINS[0])
    yb = bin_index_np(temp[keep], ylo, yhi, HIST_BINS[1])
    hist = np.zeros(HIST_BINS, np.int64)
    np.add.at(hist, (xb, yb), 1)

    # PBC rect_cutout.
    mask = np.ones(n, bool)
    for ax in range(3):
        mask &= pbc_dist_np(coords[:, ax], CUTOUT_CENTER[ax]) < CUTOUT_WIDTHS[ax] / 2.0

    # global_running_sum over (uid // RUNNING_BLOCK, uid): exact in 1e-6 units.
    running = np.cumsum(mass_q)
    run_total = sum(int(c.sum()) for c in np.array_split(running, max(1, n // 65536)))
    spots = np.arange(0, n, RUNNING_SPOT)

    return {
        "n_gas": np.int64(n),
        "group_offsets": goff[:-1].astype(np.int64),
        "group_len_gas": glen.astype(np.int64),
        "sub_start": sstart.astype(np.int64),
        "sub_len_gas": slen.astype(np.int64),
        "sub_grnr": arrays["Subhalo"]["SubhaloGrNr"],
        "temp_sum": np.float64(temp.sum()),
        "temp_min": np.float64(temp.min()),
        "temp_max": np.float64(temp.max()),
        "mass_sum": np.float64(masses.sum()),
        "grouped_ids": g_ids,
        "grouped_sum": g_sum,
        "grouped_min": g_min,
        "grouped_max": g_max,
        "seg_n": seg_n.astype(np.int64),
        "seg_msum": seg_msum,
        "seg_tmax": seg_tmax,
        "seg_rho_msum": seg_rho,
        "hist_ranges": np.array(hist_ranges, np.float64),
        "hist": hist,
        "cutout_count": np.int64(mask.sum()),
        "cutout_msum": np.float64(masses[mask].sum()),
        "running_total_q": np.int64(running[-1]),
        "running_sum_q": str(run_total),
        "running_spot_q": str(int(running[spots].sum())),
    }


def _hist_ranges(rho: np.ndarray, temp: np.ndarray):
    """Round quantile-based ranges, so a few rows fall outside."""
    return (
        (float(np.quantile(rho, 0.01)), float(np.quantile(rho, 0.99))),
        (float(np.quantile(temp, 0.01)), float(np.quantile(temp, 0.99))),
    )


def _write_series(root: str, arrays: dict) -> None:
    n_gas = len(arrays["PartType0"]["Masses"])
    counts = {
        name: len(next(iter(fields.values()))) for name, fields in arrays.items()
    }
    bounds = {
        name: np.linspace(0, cnt, NFILES + 1).astype(np.int64)
        for name, cnt in counts.items()
    }
    for i in range(NFILES):
        fdir = os.path.join(root, f"snap.{i}.h5dir")
        hdr = dict(HEADER)
        this = [0] * 6
        this[0] = int(bounds["PartType0"][i + 1] - bounds["PartType0"][i])
        this[1] = int(bounds["PartType1"][i + 1] - bounds["PartType1"][i])
        hdr.update(
            NumPart_ThisFile=this,
            NumPart_Total=[n_gas, counts["PartType1"], 0, 0, 0, 0],
            Ngroups_Total=counts["Group"],
            Nsubhalos_Total=counts["Subhalo"],
        )
        os.makedirs(os.path.join(fdir, "Header"))
        with open(os.path.join(fdir, "Header", "_attrs.json"), "w") as fh:
            json.dump(hdr, fh, sort_keys=True)
        for name, fields in arrays.items():
            lo, hi = bounds[name][i], bounds[name][i + 1]
            os.makedirs(os.path.join(fdir, name))
            for field, arr in fields.items():
                np.save(os.path.join(fdir, name, field + ".npy"), arr[lo:hi])


def _write_npy(root: str, arrays: dict) -> None:
    keep = {
        "PartType0": ["Coordinates", "Masses"],
        "Group": ["GroupLenType", "GroupNsubs", "GroupFirstSub", "GroupPos"],
        "Subhalo": ["SubhaloLenType", "SubhaloGrNr", "SubhaloPos"],
    }
    for name, fields in keep.items():
        os.makedirs(os.path.join(root, name))
        for field in fields:
            np.save(os.path.join(root, name, field + ".npy"), arrays[name][field])


def ensure(cache: str, seed: int, n_part: int) -> tuple[str, float]:
    """Return (snapshot dir, generation seconds; 0.0 on a cache hit).

    The newest CACHE_KEEP snapshots stay cached; older ones are removed."""
    key = f"{seed}-{n_part}-v{GEN_VERSION}"
    out = os.path.join(cache, key)
    if os.path.isfile(os.path.join(out, "DONE")):
        os.utime(out)
        return out, 0.0
    t0 = time.perf_counter()
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    snap = build(seed, n_part)
    _write_series(os.path.join(tmp, "snap"), snap["arrays"])
    _write_npy(os.path.join(tmp, "npy"), snap["arrays"])
    np.savez(os.path.join(tmp, "truth.npz"), **snap["truth"])
    with open(os.path.join(tmp, "DONE"), "w") as fh:
        fh.write(key + "\n")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    _evict(cache)
    return out, time.perf_counter() - t0


def _evict(cache: str) -> None:
    entries = [
        os.path.join(cache, e)
        for e in os.listdir(cache)
        if os.path.isfile(os.path.join(cache, e, "DONE"))
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[CACHE_KEEP:]:
        shutil.rmtree(old, ignore_errors=True)


def load_truth(snapdir: str) -> dict:
    with np.load(os.path.join(snapdir, "truth.npz")) as z:
        return {k: z[k] for k in z.files}


def load_gas(snapdir: str) -> dict:
    """The gas arrays, concatenated over the file series (for checks)."""
    files = sorted(
        (e for e in os.listdir(os.path.join(snapdir, "snap")) if e.endswith(".h5dir")),
        key=lambda e: int(e.split(".")[1]),
    )
    out: dict[str, np.ndarray] = {}
    for field in ("Coordinates", "Masses"):
        out[field] = np.concatenate(
            [np.load(os.path.join(snapdir, "snap", f, "PartType0", field + ".npy")) for f in files]
        )
    return out
