"""The generators are deterministic: same seed, byte-identical files and
manifest; another seed, other files."""

import filecmp
import json
import os
import re

import gen


def _files(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs
    )


def _same_tree(a, b) -> bool:
    fa, fb = _files(a), _files(b)
    return fa == fb and all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False) for f in fa)


def test_fast_inputs_deterministic(tmp_path):
    m1 = gen.make_fast_inputs(str(tmp_path / "a"), seed=7, n_entities=300)
    m2 = gen.make_fast_inputs(str(tmp_path / "b"), seed=7, n_entities=300)
    m3 = gen.make_fast_inputs(str(tmp_path / "c"), seed=8, n_entities=300)
    assert m1 == m2
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert m3["files"] != m1["files"]
    assert not _same_tree(tmp_path / "a", tmp_path / "c")
    assert sorted(m1["files"]) == sorted(f"{stem}.nt" for stem in gen.FAST_FILES)
    with open(tmp_path / "a" / "manifest.json") as f:
        assert json.load(f) == m1


def test_fast_inputs_cover_the_pipeline_rules(tmp_path):
    gen.make_fast_inputs(str(tmp_path), seed=3, n_entities=2_000)
    text = "".join(
        open(tmp_path / "nt" / f, encoding="utf-8").read() for f in os.listdir(tmp_path / "nt")
    )
    for needle in ("/fast/NaN", "viaf.org", "id.loc.gov", "Not a triple", "@en", "é", "ies"):
        assert needle in text
    assert re.search(r'prefLabel> "[xyz]" \.', text)  # a label shorter than two characters


def test_tables_deterministic(tmp_path):
    m1 = gen.make_tables(str(tmp_path / "a"), seed=5, scale=0.05)
    m2 = gen.make_tables(str(tmp_path / "b"), seed=5, scale=0.05)
    m3 = gen.make_tables(str(tmp_path / "c"), seed=6, scale=0.05)
    assert m1 == m2
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert all(m3["tables"][t]["sha256"] != m1["tables"][t]["sha256"] for t in m1["tables"])
