"""The generators are deterministic in their seed."""

import os

import gen_headline
import gen_warehouse


def _bytes(paths: dict) -> dict:
    out = {}
    for name, p in paths.items():
        with open(p, "rb") as f:
            out[name] = f.read()
    return out


def test_warehouse_extracts_are_byte_identical_for_a_seed(tmp_path):
    runs = []
    for i, seed in enumerate((7, 7, 8)):
        base = gen_warehouse.base(seed)
        paths = gen_warehouse.write(base, str(tmp_path / f"b{i}"))
        paths.update({f"delta.{k}": v for k, v in gen_warehouse.write(
            gen_warehouse.delta(seed, base), str(tmp_path / f"d{i}")).items()})
        runs.append(_bytes(paths))
    assert runs[0] == runs[1]
    assert runs[0]["comments"] != runs[2]["comments"]


def test_headline_tables_are_byte_identical_for_a_seed(tmp_path):
    runs = []
    for i, seed in enumerate((3, 3, 4)):
        d = tmp_path / str(i)
        gen_headline.write(seed, str(d))
        runs.append(_bytes({n: str(d / n) for n in sorted(os.listdir(d))}))
    assert runs[0] == runs[1]
    assert runs[0]["lineitem.parquet"] != runs[2]["lineitem.parquet"]


def test_delta_changes_about_one_percent_and_adds_new_keys():
    base = gen_warehouse.base(5)
    delta = gen_warehouse.delta(5, base)
    n = base["comments"].num_rows
    ids = set(base["comments"]["id"].to_pylist())
    new = [i for i in delta["comments"]["id"].to_pylist() if i not in ids]
    assert len(new) == round(n * gen_warehouse.DELTA_NEW_FRAC)
    assert delta["comments"].num_rows - len(new) == round(n * gen_warehouse.DELTA_CHANGE_FRAC)
    assert set(delta) == set(base) - set(gen_warehouse.LOOKUPS)
