"""Generator determinism: the same seed gives the same inputs."""

from perfbench.inputs import (
    BINDING_RULES,
    N_BINDINGS,
    ensure_inputs,
    input_digest,
)


def test_same_seed_same_digest(tmp_path):
    a = ensure_inputs(tmp_path / "a", 5, 300, 600, {"pages", "dq"})
    b = ensure_inputs(tmp_path / "b", 5, 300, 600, {"pages", "dq"})
    c = ensure_inputs(tmp_path / "c", 6, 300, 600, {"pages", "dq"})
    assert input_digest(a) == input_digest(b)
    assert input_digest(a) != input_digest(c)


def test_cached_inputs_are_reused(tmp_path):
    a = ensure_inputs(tmp_path, 5, 300, 600, {"pages", "dq"})
    first = {p: p.stat().st_mtime_ns for p in a.pages.iterdir()}
    ensure_inputs(tmp_path, 5, 300, 600, {"pages", "dq"})
    assert {p: p.stat().st_mtime_ns for p in a.pages.iterdir()} == first


def test_pages_hold_unique_ids_and_near_duplicates(tmp_path):
    import pyarrow.parquet as pq

    inputs = ensure_inputs(tmp_path, 5, 400, 600, {"pages"})
    t = pq.read_table(inputs.pages).to_pandas()
    assert len(t) == 400
    assert t["url"].is_unique
    assert t["url"].str.contains("/near-").sum() == 20


def test_bindings_shape(tmp_path):
    import yaml

    inputs = ensure_inputs(tmp_path, 5, 300, 600, {"dq"})
    assert len(inputs.binding_ids) == N_BINDINGS
    cfg = yaml.safe_load(
        (inputs.dq_configs / "perfbench_bindings.yml").read_text())
    for binding in cfg["rule_bindings"].values():
        ids = [r if isinstance(r, str) else next(iter(r))
               for r in binding["rule_ids"]]
        assert tuple(ids) == BINDING_RULES
    # the shipped rule library is copied next to the bindings
    assert (inputs.dq_configs / "rules" / "base_rules.yml").exists()
