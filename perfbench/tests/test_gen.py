import hashlib
import os

from perfbench import gen


def _files(seed: int, out: str) -> dict[str, str]:
    c = gen.chain(seed, 40, 60)
    tables = {
        "balances": gen.balances_table(c, 0, 50),
        "withdrawals": gen.withdrawals_table(c, 0, 50),
        "slots": gen.slot_withdrawals_table(seed, c),
        "transfers": gen.transfer_events_table(seed, c),
        "threat": gen.threat_table(seed, c),
        "index_map": gen.index_map_table(seed, c),
        "documents": gen.documents_table(gen.corpus(seed, 300)),
    }
    digests = {}
    for name, table in tables.items():
        path = os.path.join(out, name, "part-0.parquet")
        gen.write_parquet(table, path)
        with open(path, "rb") as f:
            digests[name] = hashlib.sha256(f.read()).hexdigest()
    return digests


def test_same_seed_gives_identical_bytes(tmp_path):
    assert _files(7, str(tmp_path / "a")) == _files(7, str(tmp_path / "b"))


def test_other_seed_gives_other_data(tmp_path):
    a, b = _files(7, str(tmp_path / "a")), _files(8, str(tmp_path / "b"))
    assert all(a[name] != b[name] for name in a)


def test_chain_shapes():
    c = gen.chain(3, 500, 120)
    assert all(len(k) == 98 and k.startswith("0x") for k in c.keys)
    bal = c.balance[c.present]
    assert 31e9 < bal.mean() < 33e9
    late = (~c.present[:, 0]).sum()
    assert 0 < late < 120  # ~10% of keys activate late
    first = c.present.argmax(axis=1)
    gapped = sum(not c.present[k, first[k]:].all() for k in range(len(c.keys)))
    assert 0 < gapped < 20  # ~1% of keys miss an epoch
    assert (c.withdrawn[c.present] > 0).mean() < 0.15  # sparse withdrawals


def test_corpus_plants_duplicates():
    c = gen.corpus(5, 2000)
    assert len(c.exact_dup_of) > 20 and len(c.near_dup_of) > 40
    for i, src in c.exact_dup_of.items():
        assert " ".join(c.texts[i].lower().split()) == " ".join(c.texts[src].lower().split())
    for i, src in c.near_dup_of.items():
        a, b = c.texts[i].split(), c.texts[src].split()
        assert len(a) == len(b) and 0 < sum(x != y for x, y in zip(a, b)) <= max(1, len(b) // 50)
