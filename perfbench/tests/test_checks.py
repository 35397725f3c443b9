import os

import numpy as np
import pandas as pd

from analytics import load_oracle_module
from checks import FINGERPRINT_COLS, CheckLog, fingerprint_frame, oracle_fingerprint, oracle_rows_match
from tail import make_delta

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def small_wal() -> pd.DataFrame:
    keys = [(f"org{i % 3}/repo{i % 3}", f"src/f{i}.py") for i in range(40)]
    repos = sorted({r for r, _ in keys})
    rng = np.random.default_rng(5)
    parts = [make_delta(rng, keys, repos, c, 16, seed=5).to_pandas() for c in range(3)]
    return pd.concat(parts, ignore_index=True)


def test_fingerprint_gate_rejects_a_planted_wrong_row():
    wal = small_wal()
    exp = oracle_fingerprint(wal)
    assert exp.attrs["n_decodable"] == len(wal) - 3   # one truncated payload per segment
    engine = exp.sample(frac=1.0, random_state=1)     # same rows, other order
    assert fingerprint_frame(engine) == exp.attrs["fingerprint"]
    planted = engine.copy()
    planted.iloc[0, FINGERPRINT_COLS.index("content_sha256")] = "0" * 64
    assert fingerprint_frame(planted) != exp.attrs["fingerprint"]
    assert fingerprint_frame(engine.iloc[1:]) != exp.attrs["fingerprint"]


def test_check_log_counts_failures():
    log = CheckLog()
    assert log.expect("a", True) and not log.expect("b", False, "why")
    assert log.failed == 1 and len(log.results) == 2


def test_oracle_compare_uses_gate_semantics():
    mod = load_oracle_module(ROOT)
    s = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})
    o = pd.DataFrame({"v": [1.25, 0.5], "k": [2, 1]})   # column and row order differ
    assert oracle_rows_match(s, o, "agg_daily", mod)[0]
    bad = o.copy()
    bad.loc[0, "v"] = 1.26
    ok, detail = oracle_rows_match(s, bad, "agg_daily", mod)
    assert not ok and "sorted row" in detail
    assert not oracle_rows_match(s, o.iloc[:1], "agg_daily", mod)[0]
