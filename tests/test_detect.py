"""Unit tests: det stage (SURVEY.md §2.2 D1-D15, §2.6 O2/O3/O5)."""

from __future__ import annotations

import numpy as np
import pytest

from cpp_paddle_ocr_spark.config import (
    DET_BOX_THRESH,
    MIN_SPAN_CHARS,
    NMS_IOU_THRESH,
)
from cpp_paddle_ocr_spark.core.detect import (
    Span,
    codepoints,
    detect_page,
    iou_1d,
    nms,
    score_tokens,
    ws_mask,
)
from cpp_paddle_ocr_spark.core.html_parse import parse_blocks


def run(doc: str):
    return detect_page(doc, parse_blocks(doc))


def test_prose_paragraph_detected_as_one_span():
    doc = "<p>This is a plain sentence with several ordinary words inside.</p>"
    spans = run(doc)
    assert len(spans) == 1
    s = spans[0]
    assert s.score >= DET_BOX_THRESH
    assert doc[s.start : s.end] == s.text
    assert "plain sentence" in s.text


def test_tiny_block_filtered():
    # analog of the 10x10 small_image_: all blocks under min-size (D8/D14)
    assert run("<html><body>ok</body></html>") == []


def test_min_span_chars_enforced():
    for s in run("<p>hi</p><p>ab cd</p>"):
        assert s.end - s.start >= MIN_SPAN_CHARS


def test_link_heavy_block_suppressed():
    nav = "".join(f'<a href="/{i}">AREA {i} NOW</a> | ' for i in range(8))
    doc = f'<div>{nav}</div><p>Genuine readable paragraph with many common words here.</p>'
    spans = run(doc)
    assert spans, "content paragraph must survive"
    joined = " ".join(s.text for s in spans)
    assert "Genuine readable paragraph" in joined
    assert "AREA 3 NOW" not in joined


def test_hint_ancestor_lowers_score():
    body = "Some perfectly reasonable words appear in this sentence today."
    plain = run(f"<p>{body}</p>")
    hinted = run(f"<nav><p>{body}</p></nav>")
    assert plain and plain[0].score >= DET_BOX_THRESH
    # same text under a nav ancestor scores strictly lower
    if hinted:
        assert hinted[0].score < plain[0].score


def test_spans_disjoint_within_page():
    # unclip expands into background only: spans never overlap (D12 clamping)
    from cpp_paddle_ocr_spark.fixtures import page

    for i in [0, 1, 2, 5, 12]:
        doc = page(i)["html"].decode("utf-8")
        spans = run(doc)
        by_start = sorted(spans, key=lambda s: (s.start, s.block_id))
        for a, b in zip(by_start, by_start[1:]):
            assert a.end <= b.start, (a, b)


def test_spans_in_emission_order_and_capped():
    doc = "".join(
        f"<p>Paragraph number {i} holds enough ordinary words to qualify.</p>"
        for i in range(1200)
    )
    spans = run(doc)
    assert len(spans) <= 1000  # O5 cap
    starts = [s.start for s in spans]
    assert starts == sorted(starts)


def test_iou_1d():
    assert iou_1d(0, 10, 0, 10) == 1.0
    assert iou_1d(0, 10, 10, 20) == 0.0
    assert iou_1d(0, 10, 5, 15) == pytest.approx(5 / 15)
    assert iou_1d(0, 0, 0, 0) == 0.0


def _sp(start, end, score, bid=0):
    return Span(block_id=bid, start=start, end=end, text="x", score=score)


def test_nms_suppresses_overlapping_lower_score():
    spans = [_sp(0, 100, 0.9), _sp(10, 95, 0.8), _sp(200, 300, 0.7)]
    kept = nms(spans)
    assert [(s.start, s.end) for s in kept] == [(0, 100), (200, 300)]


def test_nms_keeps_below_threshold_overlap():
    # IoU just under the threshold survives
    spans = [_sp(0, 100, 0.9), _sp(67, 167, 0.8)]  # IoU = 33/167 ≈ 0.2
    assert len(nms(spans)) == 2


def test_nms_chain_greedy_semantics():
    # b overlaps a (suppressed); c overlaps b but not a -> c survives because
    # greedy NMS only tests against KEPT spans
    a, b, c = _sp(0, 100, 0.9), _sp(30, 130, 0.8), _sp(60, 160, 0.7)
    assert iou_1d(a.start, a.end, b.start, b.end) > NMS_IOU_THRESH
    assert iou_1d(b.start, b.end, c.start, c.end) > NMS_IOU_THRESH
    assert iou_1d(a.start, a.end, c.start, c.end) <= NMS_IOU_THRESH
    kept = nms([a, b, c])
    assert [(s.start, s.end) for s in kept] == [(0, 100), (60, 160)]


def test_nms_tie_break_is_emission_order():
    spans = [_sp(0, 100, 0.8), _sp(1, 101, 0.8)]
    kept = nms(spans)
    assert [(s.start, s.end) for s in kept] == [(0, 100)]


def test_score_tokens_is_float64_and_order_free():
    rng = np.random.default_rng(0)
    feats = rng.random((100, 8))
    p1 = score_tokens(feats)
    p2 = score_tokens(feats[::-1])[::-1]
    assert p1.dtype == np.float64
    assert np.array_equal(p1, p2)


def test_codepoints_roundtrip_and_ws():
    cp = codepoints("a b c　d")
    ws = ws_mask(cp)
    assert ws.tolist() == [False, True, False, True, False, True, False]


def test_cjk_not_whitespace_and_extracted():
    # regression: ws_mask used to clamp cp>0x3000 to U+3000 (ideographic
    # space), classifying ALL CJK/Hangul/emoji as whitespace and destroying
    # non-Latin content end-to-end
    cjk = "数据处理引擎高效提取网页正文内容分布式计算系统架构设计与实现方案"
    assert not ws_mask(codepoints(cjk)).any()
    assert ws_mask(codepoints("　 \t")).all()  # real ws still ws
    spans = run(f"<p>{cjk}。</p>")
    assert len(spans) == 1 and cjk in spans[0].text


def test_cjk_survives_recognition():
    from cpp_paddle_ocr_spark.core.decode import recognize_spans

    text, conf = recognize_spans(["数据处理引擎 — résumé ✓"])[0]
    assert text == "数据处理引擎 — résumé ✓"
    assert 0.75 <= conf < 1.0


def test_stopword_feature_matches_python_semantics():
    # the vectorized packed-int64 stopword flag must equal the literal
    # `page[s:e].lower() in STOPWORDS` per token
    import numpy as np

    from cpp_paddle_ocr_spark.core import detect as D
    from cpp_paddle_ocr_spark.weights import STOPWORDS

    page = "The AND itS 数据 café a I shouldest zzz der Öl el-e of. in"
    cp = codepoints(page)
    ws = ws_mask(cp)
    ts, te = D._token_runs(~ws)
    expected = [1.0 if page[s:e].lower() in STOPWORDS else 0.0
                for s, e in zip(ts.tolist(), te.tolist())]
    upper = (cp >= 65) & (cp <= 90)
    folded = np.where(upper, cp + 32, cp)
    lower_alpha = (folded >= 97) & (folded <= 122)
    c = np.concatenate(([0], np.cumsum(lower_alpha.astype(np.int64))))
    tok_len = (te - ts).astype(np.float64)
    eligible = (tok_len <= D._STOP_MAXLEN) & ((c[te] - c[ts]) == tok_len)
    packed = np.zeros(ts.size, dtype=np.int64)
    for k in range(D._STOP_MAXLEN):
        has_k = (te - ts) > k
        ck = folded[np.minimum(ts + k, cp.size - 1)].astype(np.int64) - 96
        packed = np.where(has_k, (packed << 5) | np.clip(ck, 0, 31), packed)
    got = np.where(eligible & np.isin(packed, D._STOPWORDS_PACKED), 1.0, 0.0)
    assert got.tolist() == expected


def test_stopwords_pack_into_int64():
    # the packed-int64 stopword match holds only for ≤ 12 lowercase a-z
    # chars (5 bits each, 60 bits total)
    from cpp_paddle_ocr_spark.weights import STOPWORDS

    assert all(
        len(w) <= 12 and w.isascii() and w.islower() and w.isalpha()
        for w in STOPWORDS
    )


def test_cls_table_ws_class_equals_ws_table():
    from cpp_paddle_ocr_spark.core import detect as D

    assert np.array_equal(D._CLS_TABLE == D._CLS_WS, D._WS_TABLE)


def test_dilation_knob_merges_near_adjacent_runs():
    # D6 (src/ocr_det.cpp:155-159; OFF in the live config ocr_worker.cpp:33):
    # a single below-threshold token between two qualifying runs merges the
    # runs when the knob is on; with the knob off (default) output is
    # unchanged — the golden suite pins that.
    from cpp_paddle_ocr_spark.core.detect import detect_page
    from cpp_paddle_ocr_spark.core.html_parse import parse_blocks

    prose = "plain ordinary sentence with several common words appears here"
    # "42" is a digit token scoring below DET_DB_THRESH between two runs
    doc = f"<html><body><p>{prose} 42 {prose}</p></body></html>"
    blocks = parse_blocks(doc)
    off = detect_page(doc, blocks, use_dilation=False)
    on = detect_page(doc, blocks, use_dilation=True)
    assert len(on) <= len(off)  # merging can only reduce span count
    assert max(s.end - s.start for s in on) > max(s.end - s.start for s in off)
    # default equals knob-off (the live-config default)
    assert [
        (s.start, s.end, s.score) for s in detect_page(doc, blocks)
    ] == [(s.start, s.end, s.score) for s in off]


def test_dilation_never_bridges_blocks():
    # round-3 review: block A's trailing below-threshold token must NOT
    # light up just because block B starts lit
    from cpp_paddle_ocr_spark.core.detect import detect_page
    from cpp_paddle_ocr_spark.core.html_parse import parse_blocks

    prose_a = "plain ordinary sentence with several common words appears here"
    prose_b = "another different paragraph follows with more everyday words in it"
    doc = f"<html><body><p>{prose_a} 42</p><p>{prose_b}</p></body></html>"
    blk2_at = doc.index(prose_b)
    blocks = parse_blocks(doc)
    on = detect_page(doc, blocks, use_dilation=True)
    off = detect_page(doc, blocks, use_dilation=False)
    # the filters must be NON-vacuous: block 2 produces spans in both modes
    assert [s for s in on if s.start >= blk2_at]
    assert [s for s in off if s.start >= blk2_at]
    # "42" is block A's LAST token: correct dilation lights a token only
    # when its same-block successor is lit, so here dilation changes
    # NOTHING — offsets and SCORES identical. The unmasked (buggy) dilate
    # pulled "42" into block A's RUN (because block B's first token is
    # lit), dragging the run's mean score down — the score equality below
    # catches exactly that. ("42" does appear inside block A's span in
    # both modes via the unclip background expansion, which is D12's
    # correct live behavior, not bridging.)
    assert [(s.start, s.end, s.score) for s in on] == [
        (s.start, s.end, s.score) for s in off
    ]
