from collections import Counter

from perfbench import gen
from perfbench.wl_serve import AGGREGATES, CLOSED_BLOCK, POINT_READS, stratified


def test_closed_loop_block_has_the_exact_mix():
    names = stratified(gen.rng(0, "schedule"), CLOSED_BLOCK)
    counts = Counter(names)
    assert len(names) == CLOSED_BLOCK
    assert sum(counts[ep] for ep in POINT_READS) == 0.8 * CLOSED_BLOCK
    assert {counts[ep] for ep in POINT_READS} == {0.8 * CLOSED_BLOCK / len(POINT_READS)}
    assert {counts[ep] for ep in AGGREGATES} == {0.2 * CLOSED_BLOCK / len(AGGREGATES)}
