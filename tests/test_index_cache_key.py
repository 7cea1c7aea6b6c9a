"""The build-once index cache must invalidate whenever ANY module that
defines part of the build changes — the operator module, the shared
gate module, or the module the build closure itself lives in (ADVICE
r11: the delete gate's DELETE_PRED lived outside the key, so editing the
delete predicate silently served a stale index with old tombstones
while the DuckDB oracle used the new predicate)."""

from __future__ import annotations

import importlib.util
import sys


def _load_module(path, name):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


def _fake_src(tmp_path):
    src = tmp_path / "embeddings.parquet"
    src.write_bytes(b"stub")
    return str(src)


def test_key_covers_the_build_closures_module(tmp_path):
    from bunsen_spark.queries.ann import _index_cache_path

    m1 = tmp_path / "gate_a.py"
    m2 = tmp_path / "gate_b.py"
    m1.write_text("PRED = 'vec_id % 7 = 3'\ndef build(emb, path):\n    pass\n")
    m2.write_text("PRED = 'vec_id % 7 = 4'\ndef build(emb, path):\n    pass\n")
    a = _load_module(m1, "gate_a_keytest")
    b = _load_module(m2, "gate_b_keytest")
    src = _fake_src(tmp_path)

    # same tag, builds from different modules -> different cache paths
    assert _index_cache_path(src, "t", a.build) != _index_cache_path(
        src, "t", b.build
    )


def test_editing_the_build_module_invalidates(tmp_path):
    from bunsen_spark.queries.ann import _index_cache_path

    m = tmp_path / "gate_c.py"
    m.write_text("PRED = 'vec_id % 7 = 3'\ndef build(emb, path):\n    pass\n")
    mod = _load_module(m, "gate_c_keytest")
    src = _fake_src(tmp_path)
    before = _index_cache_path(src, "t", mod.build)
    # the ADVICE-r11 scenario: flip a predicate CONSTANT in the module,
    # leaving the build function's own source untouched
    m.write_text("PRED = 'vec_id % 7 = 5'\ndef build(emb, path):\n    pass\n")
    after = _index_cache_path(src, "t", mod.build)
    assert before != after


def test_key_is_stable_for_identical_inputs(tmp_path):
    from bunsen_spark.queries.ann import _index_cache_path

    m = tmp_path / "gate_d.py"
    m.write_text("def build(emb, path):\n    pass\n")
    mod = _load_module(m, "gate_d_keytest")
    src = _fake_src(tmp_path)
    assert _index_cache_path(src, "t", mod.build) == _index_cache_path(
        src, "t", mod.build
    )
    # distinct tags still separate indexes built from one module
    assert _index_cache_path(src, "t", mod.build) != _index_cache_path(
        src, "u", mod.build
    )
