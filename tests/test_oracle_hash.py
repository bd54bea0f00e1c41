"""``tools/oracle_check.py``'s result hash: what two trees compare slot by
slot. Pandas only; starts no Spark."""

import importlib.util
from pathlib import Path

import pandas as pd

_spec = importlib.util.spec_from_file_location(
    "oracle_check", Path(__file__).resolve().parent.parent / "tools" / "oracle_check.py"
)
oracle_check = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(oracle_check)


def test_hash_ignores_row_and_column_order_and_sees_one_value():
    df = pd.DataFrame({"k": ["a", "b", "c"], "n": [3, 1, 2], "x": [0.5, 1.5, float("nan")]})
    h = oracle_check.result_hash(df)
    assert len(h) == 16 and int(h, 16) >= 0
    shuffled = df.iloc[[2, 0, 1]][["x", "k", "n"]]
    assert oracle_check.result_hash(shuffled) == h
    changed = df.copy()
    changed.loc[1, "n"] = 4
    assert oracle_check.result_hash(changed) != h
