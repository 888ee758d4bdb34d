"""Generator determinism and the raw-drop edge rows (FIXTURES.md F1)."""

import csv
import io

import pytest

import gen


def _corpus(tmp_path, name, seed):
    out = tmp_path / name
    gen.write_corpus(str(out), seed, n_docs=200, n_vecs=50, copies=2)
    gen.write_preload(str(out / "preload"), seed, n_categories=6)
    return gen.digest_dir(str(out))


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    assert _corpus(tmp_path, "a", 7) == _corpus(tmp_path, "b", 7)
    assert _corpus(tmp_path, "c", 8) != _corpus(tmp_path, "a", 7)
    assert gen.emissions_raw_csv(7, 3, 500, 10) == gen.emissions_raw_csv(7, 3, 500, 10)
    assert gen.emissions_raw_csv(7, 3, 500, 10) != gen.emissions_raw_csv(8, 3, 500, 10)
    assert gen.emissions_raw_csv(7, 3, 500, 10) != gen.emissions_raw_csv(7, 4, 500, 10)


def test_copies_keep_near_duplicates_and_decorrelate():
    texts, _langs, vecs, _labels = gen.base_corpus(5, 400, 10)
    assert sum(t.endswith(" dup") for t in texts) == 400 // 20
    assert all(t.removesuffix(" dup") in texts for t in texts)
    assert vecs.shape == (10, gen.DIM)
    assert gen._copy_tag(5, 1) != gen._copy_tag(5, 2)


@pytest.fixture(scope="module")
def raw_rows():
    text = gen.emissions_raw_csv(11, 0, 5000, 20)
    reader = csv.reader(io.StringIO(text))
    assert next(reader) == gen.RAW_HEADER
    return [[v or None for v in r] for r in reader]


def test_raw_drop_has_every_edge_row(raw_rows):
    assert len(raw_rows) == 5000
    for i in range(len(gen.SELECTED)):
        assert any(r[i] is None for r in raw_rows), gen.SELECTED[i]
    assert any(r[0] in gen.UNMAPPED_CODES for r in raw_rows)
    assert any(r[4] in gen.OTHER_GASES for r in raw_rows)
    assert any(r[3] and "," in r[3] for r in raw_rows)
    values_by_key: dict = {}
    extras_by_row: dict = {}
    for r in raw_rows:
        values_by_key.setdefault(tuple(r[:5]), set()).add(r[5])
        extras_by_row.setdefault(tuple(r[:6]), set()).add(tuple(r[6:]))
    assert any(len(v) > 1 for v in values_by_key.values())
    assert any(len(v) > 1 for v in extras_by_row.values())
