import pyarrow.parquet as pq

from perfbench import inputs


def _files(path):
    return {p.name: p.read_bytes() for p in sorted(path.iterdir())}


def _make(tmp_path, name, writer, *args):
    out = tmp_path / name
    out.mkdir()
    writer(out, *args)
    return _files(out)


def test_ints_same_seed_byte_identical(tmp_path):
    a = _make(tmp_path, "a", inputs.write_ints, 7, 5000)
    b = _make(tmp_path, "b", inputs.write_ints, 7, 5000)
    c = _make(tmp_path, "c", inputs.write_ints, 8, 5000)
    assert a == b
    assert a != c


def test_ints_modulus_and_ids(tmp_path):
    inputs.write_ints(tmp_path, 3, 10_000)
    t = pq.read_table(tmp_path / "ints.parquet")
    assert t.column("id").to_pylist() == list(range(10_000))
    values = t.column("value").to_numpy()
    assert values.min() >= 0 and values.max() < inputs.INT_MODULUS
    assert len(set(values.tolist())) > 9_900  # ties are rare at this size


def test_cache_generates_once_and_evicts(tmp_path):
    calls = []

    def make(path):
        calls.append(path)
        (path / "f").write_text("x")

    first = inputs.cached(tmp_path, "k1", make, keep=2)
    assert inputs.cached(tmp_path, "k1", make, keep=2) == first
    assert len(calls) == 1
    inputs.cached(tmp_path, "k2", make, keep=2)
    inputs.cached(tmp_path, "k3", make, keep=2)
    assert sorted(p.name for p in tmp_path.iterdir()) == ["k2", "k3"]
