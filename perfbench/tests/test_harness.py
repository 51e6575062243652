from perfbench.harness import heap_live_peak_mb


def test_heap_live_peak_reads_the_largest_after_gc_occupancy(tmp_path):
    log = tmp_path / "gc.log"
    log.write_text(
        "[0.002s][info][gc] Using G1\n"
        "[0.224s][info][gc] GC(0) Pause Young (Normal) (G1 Evacuation Pause) 20M->17M(254M) 9.680ms\n"
        "[1.552s][info][gc] GC(4) Concurrent Mark Cycle\n"
        "[1.558s][info][gc] GC(4) Pause Remark 30M->30M(110M) 1.052ms\n"
        "[2.215s][info][gc] GC(5) Pause Young (Normal) (G1 Evacuation Pause) 1G->900M(2048M) 7.051ms\n"
        "[2.290s][info][gc] GC(6) Pause Young (Normal) (G1 Evacuation Pause) 900M->512K(2048M) 6.038ms\n"
    )
    assert heap_live_peak_mb(str(log)) == 900.0


def test_heap_live_peak_of_a_log_without_collections_is_zero(tmp_path):
    log = tmp_path / "gc.log"
    log.write_text("[0.002s][info][gc] Using G1\n")
    assert heap_live_peak_mb(str(log)) == 0.0
