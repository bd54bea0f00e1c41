"""The full scida story, end to end, on this engine:

build a synthetic snapshot (zarr) + halo catalog with known structure →
load via the detection ladder → uid-positional semantics → catalog-ID
assignment (GroupID with unbound sentinel) → derived Temperature recipe
→ grouped() segmented aggregation → selector → save to zarr → reload →
identical results.

This is the integration contract the reference's own external tests
check against real simulations (tests/external/test_load.py,
test_regression.py), run here on the deterministic [40,30,20]+10
fixture from FIXTURES.md / tests/integration/test_catalog_ids.py:11-124.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from scida_spark.dataset import load, register_default_fields
from scida_spark.functions.physics import K_B, M_P
from scida_spark.operators import catalog as C
from scida_spark.sources.zarr import save_zarr_container, write_zarr_array

GROUP_LENS = [40, 30, 20]
N_UNBOUND = 10
N = sum(GROUP_LENS) + N_UNBOUND


@pytest.fixture(scope="module")
def snapshot(spark, tmp_path_factory):
    """Zarr snapshot with the golden group structure."""
    d = tmp_path_factory.mktemp("story") / "snapshot"
    rng = np.random.RandomState(99)
    write_zarr_array(str(d / "Masses"), rng.uniform(0.5, 2.0, N), chunks=32)
    write_zarr_array(str(d / "ElectronAbundance"), rng.uniform(0.0, 1.2, N), chunks=32)
    write_zarr_array(str(d / "InternalEnergy"), rng.uniform(100.0, 1e4, N), chunks=32)
    return str(d)


def test_full_story(spark, snapshot, tmp_path):
    # 1. load: the detection ladder routes to the zarr source.
    ds = load(snapshot, spark=spark)
    name = "snapshot"
    cont = ds[name]
    df = cont.df
    assert df.count() == N and "uid" in df.columns

    # 2. catalog-ID assignment over the golden [40,30,20] structure.
    cat = spark.createDataFrame(
        [(i, l) for i, l in enumerate(GROUP_LENS)], "GroupID long, GroupLen long"
    )
    parts = C.add_group_ids_auto(df, cat)
    gids = [r.GroupID for r in parts.orderBy("uid").collect()]
    expect = [0] * 40 + [1] * 30 + [2] * 20 + [C.SENTINEL] * N_UNBOUND
    assert gids == expect

    # 3. derived Temperature recipe (dependency-checked registration).
    cont2 = type(cont)(parts, name=name)
    assert register_default_fields(cont2) == ["Temperature"]
    t_df = cont2.df.withColumn("T", cont2["Temperature"])
    xe = np.array([r.ElectronAbundance for r in t_df.orderBy("uid").collect()])
    u = np.array([r.InternalEnergy for r in t_df.orderBy("uid").collect()])
    t = np.array([r.T for r in t_df.orderBy("uid").collect()])
    mu = 4.0 / (1.0 + 3 * 0.76 + 4 * 0.76 * xe) * M_P
    np.testing.assert_allclose(t, 1e10 * (5.0 / 3.0 - 1.0) * u / K_B * mu, rtol=1e-12)

    # 4. grouped() segmented aggregation: per-halo mass sums (unbound
    # excluded via nmax = number of halos).
    sums = (
        C.grouped(parts, ["Masses"]).sum().evaluate(nmax=len(GROUP_LENS))
        .orderBy("GroupID")
        .collect()
    )
    masses = np.array([r.Masses for r in parts.orderBy("uid").collect()])
    offsets = np.concatenate([[0], np.cumsum(GROUP_LENS)])
    for i, row in enumerate(sums):
        assert row["sum_Masses"] == pytest.approx(
            float(masses[offsets[i] : offsets[i + 1]].sum())
        )

    # 5. selector: halo 1's rows are exactly uid [40, 70).
    sel = C.select_halo(parts, 1)
    assert sorted(r.uid for r in sel.collect()) == list(range(40, 70))
    unbound = C.select_unbound(parts)
    assert unbound.count() == N_UNBOUND

    # 6. save → reload roundtrip (distributed zarr sink, then the same
    # load path), values preserved.
    out = str(tmp_path / "resaved")
    save_zarr_container(
        parts.select("uid", "Masses", "GroupID"), out, chunks=32
    )
    back = load(out, spark=spark)
    back_df = back[list(back.keys())[0]].df
    assert back_df.count() == N
    orig_sum = parts.agg(F.sum("Masses")).first()[0]
    assert back_df.agg(F.sum("Masses")).first()[0] == pytest.approx(orig_sum)
    re_gids = [r.GroupID for r in back_df.orderBy("uid").collect()]
    assert re_gids == expect
