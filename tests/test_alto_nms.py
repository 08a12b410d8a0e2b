"""NMS suppression: the greedy interval kernel and its Spark operator."""

from frogocr_spark.core import nms


def test_nms_greedy_suppression():
    # highest score kept; overlapping lower-score suppressed; disjoint kept
    cands = [(0, 10, 0.9), (2, 12, 0.8), (50, 60, 0.7), (0, 9, 0.95)]
    kept = nms.nms(cands, iou_threshold=0.5)
    assert kept == [(0, 9, 0.95), (50, 60, 0.7)]


def test_nms_threshold_boundary():
    # IoU exactly at threshold is NOT suppressed (<= keeps)
    a, b = (0, 10), (5, 15)  # inter 5, union 15 → 1/3
    assert nms.interval_iou(a, b) == 1 / 3
    kept = nms.nms([(0, 10, 0.9), (5, 15, 0.8)], iou_threshold=1 / 3)
    assert len(kept) == 2


def test_nms_operator(spark):
    rows = [("t1", 0, 10, 0.9), ("t1", 2, 12, 0.8), ("t1", 50, 60, 0.7),
            ("t2", 0, 5, 0.5)]
    df = spark.createDataFrame(rows, "turn string, start int, end int, score double")
    from frogocr_spark.operators.suppress import nms_per_group
    got = nms_per_group(df, ["turn"]).collect()
    by_turn = {}
    for r in got:
        by_turn.setdefault(r.turn, []).append((r.start, r.end, r.score))
    assert sorted(by_turn["t1"]) == [(0, 10, 0.9), (50, 60, 0.7)]
    assert by_turn["t2"] == [(0, 5, 0.5)]
