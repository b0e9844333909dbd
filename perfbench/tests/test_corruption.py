"""A wrong output is caught by the oracle and counted as a failure.
No Spark: the oracle's own answer stands in for the engine's."""

import numpy as np
import pandas as pd

from perfbench import harness
from perfbench import oracles as O
from perfbench.workloads import Op, Workload


class _Catalog:
    def clearCache(self):
        pass


class _Spark:
    catalog = _Catalog()


def _count(out, check):
    w = type("W", (), {"spark": _Spark()})()
    loop = harness.Loop()
    harness.run_op(w, Op("pip", 1, lambda: out, check), loop, timed=False)
    return loop


def test_corrupted_pip_result_is_a_failure(tmp_path):
    w = Workload("pip_geom", 7, "tiny", str(tmp_path)).parts[0]
    w.prepare()
    want = w.want_pip

    def check(o):
        return [] if O.same_pairs(o, ("doc_id", "poly_id"), want) else ["differs"]

    good = pd.DataFrame(want, columns=["doc_id", "poly_id"])
    assert len(good) > 0
    ok = _count(good, check)
    assert (ok.attempted, ok.failed) == (1, 0)

    bad = good.copy()
    bad.loc[0, "poly_id"] += 1  # one pair points at the wrong polygon
    loop = _count(bad, check)
    assert (loop.attempted, loop.failed) == (1, 1)
    assert loop.errors[0]["op"] == "pip"

    missing = good.iloc[1:]
    assert _count(missing, check).failed == 1


def test_raising_operation_is_a_failure():
    def boom():
        raise RuntimeError("engine error")

    loop = _count(None, lambda o: [])
    assert loop.failed == 0
    w = type("W", (), {"spark": _Spark()})()
    harness.run_op(w, Op("pip", 1, boom, lambda o: []), loop, timed=False)
    assert (loop.attempted, loop.failed) == (2, 1)
    assert "engine error" in loop.errors[0]["errors"][0]


def test_corrupted_st_area_is_caught(tmp_path):
    w = Workload("pip_geom", 3, "tiny", str(tmp_path)).parts[1]
    inp = w.inp
    kind = inp["kind"]
    first = next(i for i, k in enumerate(kind) if k == "valid")
    area = [abs(O.shoelace(r)) if k != "null" else np.nan
            for r, k in zip(inp["rings"], kind)]
    area[first] *= 1.01
    frame = pd.DataFrame({"gid": np.arange(len(kind)), "area": area})
    errs = O.check_st_ops(frame.assign(valid=None, rel_ab=None, rel_ba=None,
                                       buf=None, inter=None), inp, 2.0)
    assert any(e.startswith(f"row {first}: area") for e in errs)
    area_rows = {e.split(":")[0] for e in errs if ": area" in e}
    assert area_rows == {f"row {first}"}


def test_false_merge_is_caught(tmp_path):
    w = Workload("tile_pages", 5, "tiny", str(tmp_path)).parts[1]
    group = w.inp["group"]
    n = len(group)
    canon = pd.Series(np.arange(n)).groupby(group).transform("min").to_numpy()
    size = pd.Series(canon).map(pd.Series(canon).value_counts()).to_numpy()
    out = pd.DataFrame({"doc_id": np.arange(n), "canonical": canon, "csize": size})
    assert O.check_clusters(out, group) == []

    # merge two unrelated singletons
    single = [i for i in range(n) if size[i] == 1][:2]
    bad = out.copy()
    bad.loc[single, "canonical"] = min(single)
    bad.loc[single, "csize"] = 2
    errs = O.check_clusters(bad, group)
    assert any("merges" in e for e in errs)

    # split one planted copy off into a cluster of its own
    planted = next(i for i in range(n) if size[i] > 1 and canon[i] != i)
    bad = out.copy()
    bad.loc[planted, "canonical"] = planted
    rest = (bad.canonical == canon[planted])
    bad.loc[rest, "csize"] -= 1
    bad.loc[planted, "csize"] = 1
    errs = O.check_clusters(bad, group)
    assert errs and all("split" in e for e in errs)
