"""Span-sequence structural validation — the engine's core custom operator.

The reference drives a 9-state FSM over each CDP payload word-by-word
(`/root/reference/fastpasta/src/analyze/validators/its/
its_payload_fsm_cont.rs:24-81,111-298`) with running checks and stats
fused into the same scan (`cdp_running.rs:194-456`; stats funnel
`controller.rs:112-248`). Catalyst has no built-in for a per-row grammar
pass, so this is the designated slow-path escape hatch — implemented
with ``mapInArrow`` so the slow path is as fast as it can be:

  * the Arrow list<struct> column is unpacked ONCE into flat child
    arrays (zero per-span Python objects),
  * the stateless sanity battery, stats partials, uniqueness-key rows
    and key rows are all computed VECTORIZED (pyarrow.compute /
    numpy) over the flat arrays,
  * only the grammar FSM itself runs as a Python loop — over small int
    kind-codes, touching span text only for the few header/trig/trailer
    spans that carry parsed fields.

Output rows are discriminated by ``row_type``:
  'v' violation | 's' stats partial (O(batches)) | 'k' doc-id key row
  (uniqueness; ``stat_value`` is the doc's fail flag, 1.0 when the doc
  emitted any non-WARNING 'v' row, so check_all's verdicts need no
  join against the violations). VALID media refs are never pass output
  (since round 5: as 'r' rows they were ~90% of pass rows on
  media-heavy corpora and dominated the stage-2 materialization); the
  referential check runs in-scan when ``valid_media_ids`` is provided,
  emitting only the rare dangling refs as E110 'v' rows — zero extra
  corpus scan.

Per-document restart (cdp_running.rs:87-104) means no cross-partition
state: any partitioning is correct and the pass scales linearly — this
is what makes one scan of a 100 TB table sufficient for the whole
check battery (plans/check_all.py).

Semantics are pinned by functions/fsm.py (the pure-Python oracle);
tests assert row-for-row equality between this pass and the oracle.
"""

from __future__ import annotations

from collections.abc import Iterator
from types import MappingProxyType

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fastpasta_spark import schema as S
from fastpasta_spark.functions import fsm as pyfsm

SEQ_OUT_SCHEMA = T.StructType(
    [
        T.StructField("row_type", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("span_idx", T.IntegerType(), True),
        T.StructField("offset", T.IntegerType(), True),
        T.StructField("check_code", T.StringType(), True),
        T.StructField("severity", T.StringType(), True),
        T.StructField("message", T.StringType(), True),
        T.StructField("stat_name", T.StringType(), True),
        T.StructField("stat_value", T.DoubleType(), True),
    ]
)

_ARROW_SCHEMA = pa.schema(
    [
        ("row_type", pa.string()),
        ("doc_id", pa.string()),
        ("span_idx", pa.int32()),
        ("offset", pa.int32()),
        ("check_code", pa.string()),
        ("severity", pa.string()),
        ("message", pa.string()),
        ("stat_name", pa.string()),
        ("stat_value", pa.float64()),
    ]
)

# text-length histogram bucket edges (powers of 2; merged by sum downstream)
_HIST_EDGES = np.array([0, 8, 16, 32, 64, 128, 256, 512, 1024], dtype=np.int64)

# kind codes for the FSM loop (index in this list == code)
_KINDS = list(S.VALID_KINDS)
_K_HEADER = _KINDS.index(S.KIND_HEADER)
_K_TRIG = _KINDS.index(S.KIND_TRIG)
_K_TEXT = _KINDS.index(S.KIND_TEXT)
_K_MEDIA = _KINDS.index(S.KIND_MEDIA)
_K_CALIB = _KINDS.index(S.KIND_CALIB)
_K_TRAILER = _KINDS.index(S.KIND_TRAILER)
_K_DIAG = _KINDS.index(S.KIND_DIAG)
_K_PAD = _KINDS.index(S.KIND_PAD)

# strict anchors (\A..\z) — RE2 supports them and they mean the same in
# Python/Java, unlike $ (which Python/Java match before a trailing newline)
_DOC_ID_RE = r"\A[A-Za-z0-9_-]+\z"


def _empty_cols(n: int, typ) -> pa.Array:
    return pa.nulls(n, typ)


def _viol_batch(doc_ids, span_idx, offsets, codes, sevs, msgs) -> pa.RecordBatch:
    n = len(doc_ids)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(["v"] * n, pa.string()),
            pa.array(doc_ids, pa.string()),
            pa.array(span_idx, pa.int32()),
            pa.array(offsets, pa.int32()),
            pa.array(codes, pa.string()),
            pa.array(sevs, pa.string()),
            pa.array(msgs, pa.string()),
            _empty_cols(n, pa.string()),
            _empty_cols(n, pa.float64()),
        ],
        schema=_ARROW_SCHEMA,
    )


def _fsm_over_codes(codes, offs, kv, refs, n_spans, kind_name,
                    trigger_period=None, chips_per_lane=None,
                    legal_chip_orderings=None):
    """The grammar FSM over int kind-codes for ONE document.

    codes: list[int|-1] kind codes; offs: list[int|-1] span offsets;
    kv: dict span_idx -> parsed fields for header/trig/trailer spans AND
    for content spans whose text starts with 'lane=' (lane-layer opt-in);
    refs: dict span_idx -> media_ref for media spans with non-empty ref;
    kind_name: i -> original kind string (lazy; for E60 messages only).
    Semantics identical to functions/fsm.validate_spans (oracle-tested).
    Returns (span_idx, offset, code, severity, message) tuples.
    """
    viol = []
    state = pyfsm.START
    prev_trailer_done = None
    prev_bc = None
    prev_int_bc = None
    prev_page = None
    prev_page_lanes = None
    prev_orbit = None
    noncalib = 0
    declared_lanes = None
    declared_lane_ids = None
    declared_chips = None
    fatal_lanes = set()
    frame_fatal_snapshot = set()
    prev_lane_box = [None]
    frame_cbcs = set()
    frame_refs = set()
    E = S.SEV_ERROR

    def emit(i, off, code, msg, sev=E):
        viol.append((i, off, code, sev, msg))

    padding_started = False
    for i in range(n_spans):
        k = codes[i]
        off = offs[i]
        if k == _K_PAD:
            if state in (pyfsm.AWAIT_TRIG, pyfsm.CONTENT):
                viol.append((i, off, S.E82_PAD_POSITION, E,
                             "pad span inside an open frame"))
            else:
                padding_started = True
            continue
        if padding_started:
            viol.append((i, off, S.E82_PAD_POSITION, E,
                         f"{kind_name(i)} span after padding began"))
        if state == pyfsm.DONE:
            viol.append((i, off, S.E60_DIAG_SANITY, E,
                         f"span kind={kind_name(i)} after diag footer"))
            continue

        if k == _K_HEADER:
            fields = kv.get(i, {})
            declared_lanes = pyfsm._int_field(fields, "lanes")
            declared_lane_ids = pyfsm._int_list_field(fields, "lane_ids")
            declared_chips = pyfsm._int_field(fields, "chips")
            if declared_lanes is None:
                viol.append((i, off, S.E30_HEADER_SANITY, E,
                             "header missing integer lanes= field"))
            page = pyfsm._int_field(fields, "page")
            if page is not None:
                expected_page = 0 if prev_page is None else prev_page + 1
                if page != expected_page:
                    viol.append((i, off, S.E31_PAGE_COUNTER, E,
                                 f"header page {page} != expected {expected_page}"))
                if (page > 0 and prev_page_lanes is not None
                        and declared_lanes is not None
                        and declared_lanes != prev_page_lanes):
                    viol.append((i, off, S.E32_PAGE_FIELDS, E,
                                 f"header lanes changed {prev_page_lanes} -> "
                                 f"{declared_lanes} at page {page}"))
                prev_page = page
                prev_page_lanes = declared_lanes
            if state not in (pyfsm.START, pyfsm.CLOSED):
                viol.append((i, off, S.E990_FSM_UNEXPECTED, E,
                             f"header not legal in state {state}"))
            state = pyfsm.AWAIT_TRIG
            noncalib = 0
            frame_refs = set()
            prev_lane_box = [None]
            frame_cbcs = set()
            frame_fatal_snapshot = set(fatal_lanes)

        elif k == _K_TRIG:
            fields = kv.get(i, {})
            cont = pyfsm._int_field(fields, "cont")
            bc = pyfsm._int_field(fields, "bc")
            if cont is None or bc is None or cont not in (0, 1):
                viol.append((i, off, S.E40_TRIG_SANITY, E,
                             "trig missing cont=/bc= integer fields"))
            if bc is not None:
                if prev_bc is not None and bc < prev_bc:
                    viol.append((i, off, S.E440_BC_NOT_MONOTONE, E,
                                 f"trig bc {bc} decreased vs previous {prev_bc}"))
                prev_bc = bc
            if (trigger_period is not None and bc is not None
                    and pyfsm._int_field(fields, "int") == 1):
                if prev_int_bc is not None:
                    detected = (bc - prev_int_bc) % pyfsm.BC_MODULUS
                    if detected != trigger_period:
                        viol.append((i, off, S.E45_TRIGGER_PERIOD, E,
                                     f"trigger period {detected} != specified "
                                     f"{trigger_period} (prev bc {prev_int_bc}, bc {bc})"))
                prev_int_bc = bc
            orbit = pyfsm._int_field(fields, "orbit")
            if orbit is not None:
                if prev_orbit is not None:
                    if orbit < prev_orbit:
                        viol.append((i, off, S.E441_ORBIT_NO_STOP, E,
                                     f"orbit {orbit} decreased vs previous {prev_orbit}"))
                    elif orbit > prev_orbit and prev_trailer_done != 1:
                        viol.append((i, off, S.E441_ORBIT_NO_STOP, E,
                                     f"orbit changed {prev_orbit} -> {orbit} "
                                     "without a stop (previous trailer done!=1)"))
                prev_orbit = orbit
            if state == pyfsm.AWAIT_TRIG:
                if cont == 1:
                    viol.append((i, off, S.E41_CONTINUATION, E,
                                 "trig cont=1 directly after header (new frame)"))
            elif state == pyfsm.CLOSED:
                if cont == 1:
                    if prev_trailer_done != 0:
                        viol.append((i, off, S.E41_CONTINUATION, E,
                                     "trig cont=1 but previous trailer had done=1"))
                else:
                    viol.append((i, off, S.E990_FSM_UNEXPECTED, E,
                                 "trig cont=0 without a new header after closed frame"))
            else:
                viol.append((i, off, S.E990_FSM_UNEXPECTED, E,
                             f"trig not legal in state {state}"))
            state = pyfsm.CONTENT
            noncalib = 0
            frame_refs = set()
            prev_lane_box = [None]
            frame_cbcs = set()
            frame_fatal_snapshot = set(fatal_lanes)

        elif k == _K_TEXT or k == _K_MEDIA:
            if state != pyfsm.CONTENT:
                viol.append((i, off, S.E990_FSM_UNEXPECTED, E,
                             f"{_KINDS[k]} span outside an open frame (state {state})"))
                state = pyfsm.CONTENT
            if k == _K_MEDIA and i in refs:
                ref = refs[i]
                if ref in frame_refs:
                    viol.append((i, off, S.E703_DUP_REF_IN_FRAME, E,
                                 f"media_ref {ref} repeated within frame"))
                frame_refs.add(ref)
            if i in kv:  # lane-layer participant (text starts with 'lane=')
                pyfsm._lane_span_checks(kv[i], i, off, emit, fatal_lanes,
                                        declared_lane_ids,
                                        chips_per_lane
                                        if chips_per_lane is not None
                                        else declared_chips,
                                        frame_cbcs, prev_lane_box,
                                        legal_orderings=legal_chip_orderings)
            noncalib += 1

        elif k == _K_CALIB:
            if state != pyfsm.CONTENT:
                viol.append((i, off, S.E990_FSM_UNEXPECTED, E,
                             f"calib span outside an open frame (state {state})"))
                state = pyfsm.CONTENT
            elif noncalib > 0:
                viol.append((i, off, S.E81_CALIB_POSITION, E,
                             "calib span after content; only valid at frame start"))

        elif k == _K_TRAILER:
            fields = kv.get(i, {})
            done = pyfsm._int_field(fields, "done")
            if done is None or done not in (0, 1):
                viol.append((i, off, S.E50_TRAILER_SANITY, E,
                             "trailer missing done=0|1 field"))
                done = 1
            if state == pyfsm.CONTENT:
                expected = pyfsm._expected_lanes(
                    declared_lanes, declared_lane_ids, frame_fatal_snapshot)
                if noncalib == 0:
                    viol.append((i, off, S.E701_EMPTY_FRAME, E,
                                 "trailer closed a frame with no content spans"))
                elif expected is not None and noncalib != expected:
                    viol.append((i, off, S.E702_LANE_COUNT, E,
                                 f"frame content count {noncalib} != "
                                 f"declared lanes {expected}"))
                if len(frame_cbcs) > 1:
                    viol.append((i, off, S.E9003_CHIP_BC_MISMATCH, E,
                                 f"chip bc mismatch across lanes: {sorted(frame_cbcs)}"))
                state = pyfsm.CLOSED
            else:
                viol.append((i, off, S.E992_FSM_ORPHAN_CLOSE, E,
                             f"trailer with no open frame (state {state})"))
                state = pyfsm.CLOSED
            prev_trailer_done = done

        elif k == _K_DIAG:
            pyfsm._diag_field_checks(kv.get(i, {}), i, off, emit)
            if state not in (pyfsm.CLOSED, pyfsm.START):
                viol.append((i, off, S.E990_FSM_UNEXPECTED, E,
                             f"diag footer while frame open (state {state})"))
            state = pyfsm.DONE
        # invalid kind (-1): stateless battery reports E70; FSM skips

    if state in (pyfsm.AWAIT_TRIG, pyfsm.CONTENT):
        last = n_spans - 1
        viol.append((last, offs[last] if n_spans else -1,
                     S.E991_FSM_UNCLOSED, E,
                     "document ended with an open frame"))
    return viol


def _parse_kv_spans(kv_idx: np.ndarray, text_c: pa.Array,
                    cache: dict | None = None) -> dict[int, dict]:
    """flat span index -> parsed fields dict, for all kv-carrying spans.

    Measured note: a vectorized Arrow RE2 extract_regex fast path was
    tried here and was ~15% SLOWER than parse_kv end-to-end (the struct
    to_pylist + per-row dict assembly costs more than the simple
    split/partition loop on these short texts) — keep the one obvious
    implementation, which is also the oracle's. A per-key INT-parse
    memo on the shared dicts (Fields subclass + lazy _ints) was also
    benched and was ~7% SLOWER than plain int(): the getattr+probe per
    _int_field call costs more than re-parsing short integers.

    ``cache`` memoizes text -> parsed dict across spans AND batches of
    one partition: status-word texts are repetitive by nature (trailer
    'done=1', header 'lanes=N', bc values from a bounded counter), so
    hit rates are high on real corpora — measured ~25% off the whole
    fused pass on the bench corpus. The shared dicts are READ-ONLY by
    contract (no FSM consumer mutates parsed fields). Bounded by the
    caller (cleared past _KV_CACHE_MAX) so hostile all-unique corpora
    cannot grow it without limit.
    """
    if not len(kv_idx):
        return {}
    kv_texts = pc.take(text_c, pa.array(kv_idx)).to_pylist()
    if cache is None:
        cache = {}
    out: dict[int, dict] = {}
    get = cache.get
    for j, t in zip(kv_idx, kv_texts):
        d = get(t)
        if d is None:
            # MappingProxyType enforces the read-only contract at near-
            # zero cost: the SAME parsed dict is shared by every span
            # with this text across batches, so a consumer mutating it
            # would corrupt unrelated spans' parses seed-dependently
            d = MappingProxyType(pyfsm.parse_kv(t or ""))
            cache[t] = d
        out[int(j)] = d
    return out


_KV_CACHE_MAX = 1 << 16


# ---------------------------------------------------------------------------
# clean-doc pre-screen (round-4 verdict #2)
#
# Most documents of a real corpus are violation-free; proving that
# VECTORIZED lets the Python FSM loop (and the kv parse feeding it) run
# only on the docs that might actually emit something. The screen is a
# CONSERVATIVE sufficient condition for "the FSM emits zero rows": any
# doubt (pad spans, lane-layer opt-in, page/orbit/int fields, unusual
# field forms, continuation frames, non-monotone bc, frame-count or
# dup-ref anomalies) marks the doc dirty and routes it to the exact
# loop. False-dirty costs only speed; false-clean is impossible by
# construction — every FSM rule is either (a) excluded by the strict
# grammar/regex forms below or (b) checked vectorized with identical
# semantics. Parity with functions/fsm.py is pinned by the row-equality
# tests, the golden parquet, the fuzz harness, and a dedicated
# screen-implies-clean property test.
# ---------------------------------------------------------------------------

_P_START = len(_KINDS)       # sentinel prev: document start
_P_OTHER = len(_KINDS) + 1   # sentinel prev: invalid kind (never legal)
# _LEGAL_PREV[kind, prev] — may span `kind` legally follow span `prev`
# in a doc KNOWN to contain no pad/invalid spans? Encodes the FSM state
# map: each kind deterministically sets the state (header->AWAIT_TRIG,
# trig/text/media/calib->CONTENT, trailer->CLOSED, diag->DONE), so the
# state before span i is a pure function of span i-1's kind.
_LEGAL_PREV = np.zeros((len(_KINDS), len(_KINDS) + 2), dtype=bool)
_LEGAL_PREV[_K_HEADER, [_K_TRAILER, _P_START]] = True   # START/CLOSED
_LEGAL_PREV[_K_TRIG, _K_HEADER] = True                  # AWAIT_TRIG, cont=0
_LEGAL_PREV[_K_CALIB, [_K_TRIG, _K_CALIB]] = True       # frame start only
for _k in (_K_TEXT, _K_MEDIA):
    _LEGAL_PREV[_k, [_K_TRIG, _K_CALIB, _K_TEXT, _K_MEDIA]] = True
_LEGAL_PREV[_K_TRAILER, [_K_TEXT, _K_MEDIA]] = True     # noncalib >= 1
_LEGAL_PREV[_K_DIAG, _K_TRAILER] = True                 # CLOSED only

# strict field forms: anything else (page=, orbit=, int=, lane_ids=,
# cont=1 continuations, done=0 stops, signed/underscored ints, >int64
# digits) fails the match and the doc takes the exact loop
_SCREEN_HDR_RE = r"\Alanes=[0-9]{1,9}\z"
_SCREEN_TRIG_RE = r"\Acont=0,bc=[0-9]{1,15}\z"


def _screen_clean_docs(codes: np.ndarray, parent: np.ndarray,
                       bounds: np.ndarray, counts_np: np.ndarray,
                       text_c: pa.Array, ref_c: pa.Array,
                       ref_empty: np.ndarray,
                       lane_pref: np.ndarray) -> np.ndarray:
    """Per-doc boolean: True => the FSM loop provably emits nothing.

    Operates on the flattened span arrays of one Arrow batch. Covers the
    strict common grammar (header 'lanes=N', trig 'cont=0,bc=B', content,
    trailer 'done=1')* (diag no-fields)? — with bc monotone per doc,
    frame content counts equal to declared lanes, and media refs unique
    per frame. Everything outside that shape is dirty (conservative).
    """
    n_docs = len(counts_np)
    dirty = np.zeros(n_docs, dtype=bool)
    n = len(codes)
    if n == 0:
        return ~dirty

    # span-level disqualifiers: invalid kind, pad, lane-layer opt-in
    bad = (codes < 0) | (codes == _K_PAD) | lane_pref

    # structural legality vs the previous span (valid within docs that
    # have no pad/invalid spans — docs that do are dirty via `bad`, so a
    # stale prev there cannot cause false-clean)
    prev = np.empty(n, dtype=np.int64)
    prev[1:] = codes[:-1]
    nonempty = counts_np > 0
    prev[bounds[:-1][nonempty]] = _P_START
    prev = np.where(prev < 0, _P_OTHER, prev)
    bad |= ~_LEGAL_PREV[np.where(codes < 0, 0, codes), prev]

    # last span must close the doc (CLOSED or DONE; open frame => E991)
    ends = bounds[1:][nonempty] - 1
    last_bad = ~((codes[ends] == _K_TRAILER) | (codes[ends] == _K_DIAG))
    dirty[np.nonzero(nonempty)[0][last_bad]] = True

    def _texts(idx: np.ndarray) -> pa.Array:
        return pc.fill_null(pc.take(text_c, pa.array(idx)), "")

    # headers: exact 'lanes=<int>' form; keep the value for E702
    hdr_idx = np.nonzero(codes == _K_HEADER)[0]
    lanes_ok = np.zeros(len(hdr_idx), dtype=bool)
    lanes_val = np.zeros(len(hdr_idx), dtype=np.int64)
    if len(hdr_idx):
        ht = _texts(hdr_idx)
        m = pc.match_substring_regex(ht, _SCREEN_HDR_RE).to_numpy(
            zero_copy_only=False)
        bad[hdr_idx[~m]] = True
        lanes_ok = m
        if m.any():
            mt = pc.take(ht, pa.array(np.nonzero(m)[0]))
            lanes_val[m] = pc.cast(
                pc.utf8_slice_codeunits(mt, start=6, stop=32), pa.int64()
            ).to_numpy(zero_copy_only=False)

    # trigs: exact 'cont=0,bc=<int>' form; bc non-decreasing per doc
    trig_idx = np.nonzero(codes == _K_TRIG)[0]
    if len(trig_idx):
        tt = _texts(trig_idx)
        tm = pc.match_substring_regex(tt, _SCREEN_TRIG_RE).to_numpy(
            zero_copy_only=False)
        bad[trig_idx[~tm]] = True
        if tm.any():
            mt = pc.take(tt, pa.array(np.nonzero(tm)[0]))
            bc = pc.cast(pc.utf8_slice_codeunits(mt, start=10, stop=32),
                         pa.int64()).to_numpy(zero_copy_only=False)
            tp = parent[trig_idx[tm]]
            dec = (tp[1:] == tp[:-1]) & (bc[1:] < bc[:-1])
            dirty[tp[1:][dec]] = True

    # trailers: exact stop form
    tr_idx = np.nonzero(codes == _K_TRAILER)[0]
    if len(tr_idx):
        ok = pc.equal(_texts(tr_idx), "done=1").to_numpy(
            zero_copy_only=False)
        bad[tr_idx[~ok]] = True

    # diag: field-free footers only (any '=' => exact loop decides E61)
    dg_idx = np.nonzero(codes == _K_DIAG)[0]
    if len(dg_idx):
        hasf = pc.match_substring(_texts(dg_idx), "=").to_numpy(
            zero_copy_only=False)
        bad[dg_idx[hasf]] = True

    if bad.any():
        dirty[parent[bad]] = True

    # per-frame checks: content count == declared lanes (E702) and media
    # refs unique within the frame (E703). Frames are delimited by the
    # global header cumsum; spans are attributed to a frame only when
    # they share its header's doc, so a malformed neighbor doc can only
    # ADD spans to a clean doc's trailing frame (count inflation =>
    # false-dirty, never false-clean).
    if len(hdr_idx):
        frame_sid = np.cumsum(codes == _K_HEADER)   # 1-based at/after hdr
        doc_of_frame = parent[hdr_idx]
        in_frame = frame_sid > 0
        cmask = ((codes == _K_TEXT) | (codes == _K_MEDIA)) & in_frame
        ci = np.nonzero(cmask)[0]
        fj = frame_sid[ci] - 1
        same = parent[ci] == doc_of_frame[fj]
        cnt = np.bincount(fj[same], minlength=len(hdr_idx))
        mism = lanes_ok & (cnt != lanes_val)
        dirty[doc_of_frame[mism]] = True

        mi = np.nonzero((codes == _K_MEDIA) & in_frame & ~ref_empty)[0]
        if len(mi):
            fmj = frame_sid[mi] - 1
            keep = parent[mi] == doc_of_frame[fmj]
            mi, fmj = mi[keep], fmj[keep]
        if len(mi):
            enc = pc.dictionary_encode(
                pc.fill_null(pc.take(ref_c, pa.array(mi)), ""))
            rcodes = enc.indices.to_numpy(zero_copy_only=False).astype(
                np.int64)
            key = fmj.astype(np.int64) * (rcodes.max() + 1) + rcodes
            key.sort()
            dup = key[1:][key[1:] == key[:-1]]
            if len(dup):
                dirty[doc_of_frame[(dup // (rcodes.max() + 1)).astype(
                    np.int64)]] = True

    return ~dirty


def _make_arrow_pass(fused: bool, trigger_period: int | None = None,
                     chips_per_lane: int | None = None,
                     legal_chip_orderings: list[list[int]] | None = None,
                     screen: bool = True,
                     valid_media=None):
    # screen=False sends every doc through the exact FSM loop — only
    # scripts/screen_pass_bench.py sets it, to time the clean-doc screen

    def arrow_pass(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # valid_media is a pyspark Broadcast of the media-id frozenset
        # (fetched once per worker) or None: E110 referential check off.
        # Materialized ONCE per task as an Arrow array so the membership
        # test below is a single C++ pc.is_in per batch — media refs are
        # ~90% of spans on media-heavy corpora, so a Python set probe
        # per ref would reintroduce per-row interpreter work on the
        # pass's hot path
        vm_arr = (pa.array(sorted(valid_media.value), pa.string())
                  if valid_media is not None else None)
        kv_cache: dict = {}  # text -> parsed fields, partition-scoped
        for batch in batches:
            if len(kv_cache) > _KV_CACHE_MAX:
                kv_cache.clear()
            tbl = pa.Table.from_batches([batch]).combine_chunks()
            doc_id_arr = tbl.column("doc_id").chunk(0)
            spans_arr = tbl.column("spans").chunk(0)
            n_docs = len(doc_id_arr)
            if n_docs == 0:
                continue

            # ---- flatten ONCE ------------------------------------------
            spans_null = pc.is_null(spans_arr).to_numpy(zero_copy_only=False)
            # flattened children (only the list's own values, view-safe)
            flat = spans_arr.flatten()
            kind_c = flat.field("kind")
            text_c = flat.field("text")
            ref_c = flat.field("media_ref")
            off_c = flat.field("offset")
            counts = pc.list_value_length(spans_arr)
            counts_np = pc.fill_null(counts, 0).to_numpy(zero_copy_only=False
                                                         ).astype(np.int64)
            bounds = np.zeros(n_docs + 1, dtype=np.int64)
            np.cumsum(counts_np, out=bounds[1:])
            n_spans_total = int(bounds[-1])
            # doc index of every flattened span
            parent = np.repeat(np.arange(n_docs), counts_np)

            # kind codes: index in VALID_KINDS, -1 for unknown/null
            codes = pc.fill_null(
                pc.index_in(kind_c, value_set=pa.array(_KINDS)), -1
            ).to_numpy(zero_copy_only=False).astype(np.int64)
            offs = pc.fill_null(off_c, -1).to_numpy(zero_copy_only=False
                                                    ).astype(np.int64)
            text_len = pc.fill_null(pc.utf8_length(pc.fill_null(text_c, "")), 0
                                    ).to_numpy(zero_copy_only=False).astype(np.int64)
            text_null = pc.is_null(text_c).to_numpy(zero_copy_only=False)
            text_empty = text_null | (text_len == 0)
            ref_empty = (pc.fill_null(pc.utf8_length(pc.fill_null(ref_c, "")), 0)
                         .to_numpy(zero_copy_only=False) == 0) | \
                pc.is_null(ref_c).to_numpy(zero_copy_only=False)

            # lazy: a clean batch never needs Python doc_id objects —
            # the vectorized emitters below use pc.take on the Arrow
            # array; the full to_pylist happens only when the FSM loop
            # actually emits violations (round-3 verdict item 4)
            doc_ids_py: list | None = None

            def _doc_ids() -> list:
                nonlocal doc_ids_py
                if doc_ids_py is None:
                    doc_ids_py = doc_id_arr.to_pylist()
                return doc_ids_py

            out_batches: list[pa.RecordBatch] = []

            # per-doc fail flag for the 'k' rows: set by every emitter
            # of a non-WARNING 'v' row (screened-clean docs stay False)
            fail = np.zeros(n_docs, dtype=bool)

            if fused:
                # NOTE round 5: media-ref ('r') rows are no longer emitted
                # here. On a media-heavy corpus they were ~90% of the pass
                # output (102M of 113M rows on the 8M-doc scaling corpus)
                # and dominated the persist; the referential check is now
                # the in-scan E110 emit below (broadcast media-id set,
                # dangling rows only — rare by definition).

                # ---- stateless battery (fully vectorized emits) ---------
                # one RecordBatch per firing check, columns assembled
                # with numpy index arrays + pc.take — no per-row Python
                # appends (round-3 verdict item 4); nothing is built at
                # all for checks that do not fire in this batch

                def emit_span_viol(idx, code, msgs):
                    """idx: np.int64 indices into the FLAT span arrays;
                    msgs: one constant str, or a list aligned with idx."""
                    n = len(idx)
                    if not n:
                        return
                    par = parent[idx]
                    fail[par] = True
                    out_batches.append(pa.RecordBatch.from_arrays(
                        [
                            pa.array(["v"] * n, pa.string()),
                            pc.take(doc_id_arr, pa.array(par)).cast(pa.string()),
                            pa.array((idx - bounds[par]).astype(np.int32)),
                            pa.array(offs[idx].astype(np.int32)),
                            pa.array([code] * n, pa.string()),
                            pa.array([S.SEV_ERROR] * n, pa.string()),
                            pa.array([msgs] * n if isinstance(msgs, str)
                                     else msgs, pa.string()),
                            _empty_cols(n, pa.string()),
                            _empty_cols(n, pa.float64()),
                        ],
                        schema=_ARROW_SCHEMA,
                    ))

                def emit_doc_viol(dsel, code, msgs):
                    """dsel: np doc indices; span_idx NULL, offset -1."""
                    n = len(dsel)
                    if not n:
                        return
                    fail[dsel] = True
                    out_batches.append(pa.RecordBatch.from_arrays(
                        [
                            pa.array(["v"] * n, pa.string()),
                            pc.take(doc_id_arr, pa.array(dsel)).cast(pa.string()),
                            _empty_cols(n, pa.int32()),
                            pa.array(np.full(n, -1, np.int32)),
                            pa.array([code] * n, pa.string()),
                            pa.array([S.SEV_ERROR] * n, pa.string()),
                            pa.array([msgs] * n if isinstance(msgs, str)
                                     else msgs, pa.string()),
                            _empty_cols(n, pa.string()),
                            _empty_cols(n, pa.float64()),
                        ],
                        schema=_ARROW_SCHEMA,
                    ))

                e70 = np.nonzero(codes == -1)[0]
                if len(e70):
                    kp = pc.take(kind_c, pa.array(e70)).to_pylist()
                    emit_span_viol(e70, S.E70_INVALID_KIND, [
                        f"invalid span kind: {k if k is not None else 'NULL'}"
                        for k in kp])
                emit_span_viol(
                    np.nonzero((codes == _K_TEXT) & text_empty)[0],
                    S.E71_TEXT_EMPTY, "text span with empty text")
                emit_span_viol(
                    np.nonzero((codes == _K_MEDIA) & ref_empty)[0],
                    S.E72_MEDIA_REF_MISSING, "media span with empty media_ref")
                e73 = np.nonzero((codes != _K_MEDIA) & ~ref_empty)[0]
                if len(e73):
                    rp = pc.take(ref_c, pa.array(e73)).to_pylist()
                    emit_span_viol(e73, S.E73_UNEXPECTED_REF, [
                        f"non-media span carries media_ref {r}" for r in rp])
                emit_span_viol(
                    np.nonzero((codes == _K_PAD) & ~text_empty)[0],
                    S.E74_PAD_NOT_EMPTY, "pad span with non-empty text")

                # E110 referential: media refs outside the broadcast
                # media-id set. Emitted HERE because the pass already
                # holds the flattened media_ref column — check_all needs
                # NO second corpus scan for the referential check, and
                # only the RARE dangling rows enter the pass output (the
                # round-5 scaling fix stands: valid refs never do).
                # Batch-level and screen-independent: a grammar-clean
                # doc can still carry a dangling ref. Twin:
                # functions/fsm.stateless_doc_checks(valid_media_ids=).
                if vm_arr is not None:
                    m_idx = np.nonzero((codes == _K_MEDIA) & ~ref_empty)[0]
                    if len(m_idx):
                        refs_sel = pc.take(ref_c, pa.array(m_idx))
                        # vectorized membership: only the RARE dangling
                        # refs ever become Python objects (messages)
                        d_local = np.nonzero(~pc.is_in(
                            refs_sel, value_set=vm_arr
                        ).to_numpy(zero_copy_only=False))[0]
                        if len(d_local):
                            rv = pc.take(refs_sel,
                                         pa.array(d_local)).to_pylist()
                            emit_span_viol(
                                m_idx[d_local], S.E110_DANGLING_REF,
                                [f"media_ref not found in media table: {v}"
                                 for v in rv])

                # doc-level: E10/E13 (doc_id), E12 (spans), E11 (offsets)
                did_null = pc.is_null(doc_id_arr).to_numpy(zero_copy_only=False)
                did_len = pc.fill_null(
                    pc.utf8_length(pc.fill_null(doc_id_arr, "")), 0
                ).to_numpy(zero_copy_only=False)
                did_bad = ~pc.fill_null(
                    pc.match_substring_regex(pc.fill_null(doc_id_arr, ""),
                                             _DOC_ID_RE), False
                ).to_numpy(zero_copy_only=False)
                emit_doc_viol(np.nonzero(did_null | (did_len == 0))[0],
                              S.E10_DOC_ID_NULL, "doc_id is null or empty")
                e13 = np.nonzero(~did_null & (did_len > 0) & did_bad)[0]
                if len(e13):
                    dp = pc.take(doc_id_arr, pa.array(e13)).to_pylist()
                    emit_doc_viol(e13, S.E13_DOC_ID_FORMAT,
                                  [f"malformed doc_id: {x}" for x in dp])
                emit_doc_viol(np.nonzero(spans_null | (counts_np == 0))[0],
                              S.E12_SPANS_NULL, "spans array is null or empty")

                # E11: first index where offset != position-in-doc
                pos_in_doc = np.arange(n_spans_total) - bounds[parent]
                mism = np.nonzero(offs != pos_in_doc)[0]
                if len(mism):
                    # first mismatch per doc (parent is sorted, so
                    # unique's return_index points at each doc's first)
                    firsts = mism[np.unique(parent[mism], return_index=True)[1]]
                    i_in = firsts - bounds[parent[firsts]]
                    emit_span_viol(firsts, S.E11_OFFSET_SEQUENCE, [
                        f"offset sequence broken at span {i}" for i in i_in])

            # ---- stats partials (vectorized) ----------------------------
            stats: dict[str, float] = {"docs_seen": float(n_docs),
                                       "spans_seen": float(n_spans_total)}
            vc = pc.value_counts(pa.array(codes))
            for rec in vc.to_pylist():
                k = rec["values"]
                name = _KINDS[k] if 0 <= k < len(_KINDS) else "invalid"
                stats[f"kind_count_{name}"] = stats.get(f"kind_count_{name}", 0.0) \
                    + float(rec["counts"])
            tmask = codes == _K_TEXT
            if tmask.any():
                stats["text_null_count"] = float((tmask & text_null).sum())
                tl = text_len[tmask & ~text_null]
                if len(tl):
                    stats["text_len_sum"] = float(tl.sum())
                    stats["text_len_min"] = float(tl.min())
                    stats["text_len_max"] = float(tl.max())
                    hist_idx = np.searchsorted(_HIST_EDGES, tl, side="right") - 1
                    for b, cnt in zip(*np.unique(hist_idx, return_counts=True)):
                        stats[f"text_len_hist_ge_{_HIST_EDGES[b]}"] = float(cnt)
            ns = len(stats)
            out_batches.append(pa.RecordBatch.from_arrays(
                [
                    pa.array(["s"] * ns, pa.string()),
                    _empty_cols(ns, pa.string()),
                    _empty_cols(ns, pa.int32()),
                    _empty_cols(ns, pa.int32()),
                    _empty_cols(ns, pa.string()),
                    _empty_cols(ns, pa.string()),
                    _empty_cols(ns, pa.string()),
                    pa.array(list(stats.keys()), pa.string()),
                    pa.array(list(stats.values()), pa.float64()),
                ],
                schema=_ARROW_SCHEMA,
            ))

            # ---- the FSM loop (Python, but over ints + sparse kv) -------
            # parse fields only for header/trig/trailer/diag spans, plus
            # the content spans that OPT INTO the lane layer (text starts
            # with 'lane=' — vectorized prefix test, so free-text corpora
            # pay nothing for the chip-level checks)
            lane_pref = pc.starts_with(pc.fill_null(text_c, ""), pattern="lane="
                                       ).to_numpy(zero_copy_only=False)
            # clean-doc pre-screen: docs proven violation-free skip BOTH
            # the kv parse and the loop below. Safe to restrict kv to
            # dirty docs: screened-clean docs have no lane-layer spans
            # (census) and no int= trigs (trig_internal_count) by the
            # screen's strict field forms, so the 's' partials computed
            # from kv are unchanged.
            clean = (_screen_clean_docs(codes, parent, bounds, counts_np,
                                        text_c, ref_c, ref_empty, lane_pref)
                     if screen else np.zeros(n_docs, dtype=bool))
            dirty_span = ~clean[parent]
            kv_mask = ((codes == _K_HEADER) | (codes == _K_TRIG)
                       | (codes == _K_TRAILER) | (codes == _K_DIAG))
            kv_mask |= ((codes == _K_TEXT) | (codes == _K_MEDIA)) & lane_pref
            kv_mask &= dirty_span
            kv_idx = np.nonzero(kv_mask)[0]
            kv_flat = _parse_kv_spans(kv_idx, text_c, cache=kv_cache)

            # ALPIDE readout-flag census (G5 true form): lane spans may
            # carry rf=<chip trailer byte>; decode via the shared
            # ReadoutFlags::log twin and emit as 's' partials (merged by
            # SUM downstream like every other counter). Corpora without
            # the lane layer emit nothing.
            lane_kv = ((codes == _K_TEXT) | (codes == _K_MEDIA)) & lane_pref
            rf_counts: dict[str, int] = {}
            for j in kv_idx[lane_kv[kv_idx]]:
                fields = kv_flat[int(j)]
                rf = pyfsm._int_field(fields, "rf")
                if rf is not None:
                    pyfsm.log_readout_flags(rf, rf_counts)
                if "ape" in fields:
                    name = pyfsm.ape_census_name(
                        pyfsm._int_field(fields, "ape"))
                    if name:
                        rf_counts[name] = rf_counts.get(name, 0) + 1
            extra_stats = {f"alpide_{k}": float(v)
                           for k, v in rf_counts.items()}
            # internal-trigger census (PhT-trigger-count analogue,
            # trigger_stats.rs is_pht_trigger / stats_validation.rs
            # expected-PhT custom check): count trig spans with int=1 —
            # kv already parsed+memoized, so this is O(#trig spans)
            # dict probes per batch
            n_int_trig = 0
            for j in kv_idx[codes[kv_idx] == _K_TRIG]:
                if pyfsm._int_field(kv_flat[int(j)], "int") == 1:
                    n_int_trig += 1
            if n_int_trig:
                extra_stats["trig_internal_count"] = float(n_int_trig)
            if extra_stats:
                nrf = len(extra_stats)
                out_batches.append(pa.RecordBatch.from_arrays(
                    [
                        pa.array(["s"] * nrf, pa.string()),
                        _empty_cols(nrf, pa.string()),
                        _empty_cols(nrf, pa.int32()),
                        _empty_cols(nrf, pa.int32()),
                        _empty_cols(nrf, pa.string()),
                        _empty_cols(nrf, pa.string()),
                        _empty_cols(nrf, pa.string()),
                        pa.array(list(extra_stats), pa.string()),
                        pa.array(list(extra_stats.values()), pa.float64()),
                    ],
                    schema=_ARROW_SCHEMA,
                ))
            # ref map feeds only the loop -> dirty docs only (the
            # referential check is the vectorized E110 emit above)
            ref_idx = np.nonzero((codes == _K_MEDIA) & ~ref_empty
                                 & dirty_span)[0]
            ref_vals = (pc.take(ref_c, pa.array(ref_idx)).to_pylist()
                        if len(ref_idx) else [])
            ref_flat = {int(j): v for j, v in zip(ref_idx, ref_vals)}

            f_doc, f_span, f_off, f_code, f_sev, f_msg = [], [], [], [], [], []
            dirty_docs = np.nonzero(~clean)[0]
            # O(n_spans) PyLong materialization only the FSM loop reads —
            # an all-clean (fully screened) batch must skip it
            codes_l = codes.tolist() if len(dirty_docs) else []
            offs_l = offs.tolist() if len(dirty_docs) else []

            def _kind_at(j: int) -> str | None:
                # element-wise: only E60 messages need the kind string —
                # converting the whole kind array to_pylist for a handful
                # of lookups dominated the loop in profiling
                return kind_c[j].as_py()

            # group kv/refs by doc ONCE — O(|kv|), not O(total spans):
            # probing `j in kv_flat` for every span of every doc was a
            # measured hot spot
            kv_by_doc: dict[int, dict] = {}
            for j, fields in kv_flat.items():
                d = int(parent[j])
                kv_by_doc.setdefault(d, {})[j - int(bounds[d])] = fields
            refs_by_doc: dict[int, dict] = {}
            for j, v in ref_flat.items():
                d = int(parent[j])
                refs_by_doc.setdefault(d, {})[j - int(bounds[d])] = v
            _EMPTY: dict = {}

            for d in dirty_docs:
                lo, hi = int(bounds[d]), int(bounds[d + 1])
                if lo == hi:
                    continue
                kv = kv_by_doc.get(d, _EMPTY)
                refs = refs_by_doc.get(d, _EMPTY)
                vs = _fsm_over_codes(
                    codes_l[lo:hi], offs_l[lo:hi], kv, refs, hi - lo,
                    lambda i, _lo=lo: _kind_at(_lo + i),
                    trigger_period=trigger_period,
                    chips_per_lane=chips_per_lane,
                    legal_chip_orderings=legal_chip_orderings)
                if not vs:
                    continue
                # FSM WARNING codes (lane-layer APE) do not fail the doc
                if any(v[3] != S.SEV_WARNING for v in vs):
                    fail[d] = True
                did = _doc_ids()[d]
                for i, off, code, sev, msg in vs:
                    f_doc.append(did); f_span.append(i)
                    f_off.append(off); f_code.append(code)
                    f_sev.append(sev); f_msg.append(msg)
            if f_doc:
                out_batches.append(_viol_batch(f_doc, f_span, f_off,
                                               f_code, f_sev, f_msg))

            # ---- 'k' key rows (vectorized): stat_value = fail flag ------
            if fused:
                out_batches.append(pa.RecordBatch.from_arrays(
                    [
                        pa.array(["k"] * n_docs, pa.string()),
                        doc_id_arr.cast(pa.string()),
                        _empty_cols(n_docs, pa.int32()),
                        _empty_cols(n_docs, pa.int32()),
                        _empty_cols(n_docs, pa.string()),
                        _empty_cols(n_docs, pa.string()),
                        _empty_cols(n_docs, pa.string()),
                        _empty_cols(n_docs, pa.string()),
                        pa.array(fail.astype(np.float64)),
                    ],
                    schema=_ARROW_SCHEMA,
                ))

            for ob in out_batches:
                yield ob

    return arrow_pass


def sequence_pass(docs: DataFrame, fused: bool = False,
                  trigger_period: int | None = None,
                  chips_per_lane: int | None = None,
                  legal_chip_orderings: list[list[int]] | None = None,
                  valid_media_ids: frozenset | set | None = None
                  ) -> DataFrame:
    """Run the FSM (+stats) pass. fused=True also emits key ('k') rows
    and the stateless battery (single-scan check_all mode). trigger_period
    enables the E45 internal-trigger period check (reference
    --its-trigger-period analogue; off by default). chips_per_lane /
    legal_chip_orderings override the header-derived chip-layer
    expectations (reference custom TOML checks,
    custom_checks_cfg.rs:7-28; see functions/fsm.validate_spans).

    valid_media_ids (fused mode): the media dim's id set — enables the
    E110 referential check INSIDE the pass (zero extra corpus scan; only
    dangling rows are emitted). Ships as a Spark broadcast, fetched once
    per worker; the media dim is broadcast-scale by design (check_all's
    anti-join form already F.broadcast it). Pass a plain set and the
    broadcast registers with the cache registry (release_tracked frees
    executor copies), or pass an existing pyspark Broadcast to own its
    lifecycle yourself (check_all does, via CheckResult.release)."""
    vm_bc = None
    if valid_media_ids is not None:
        if hasattr(valid_media_ids, "value"):  # pyspark Broadcast
            vm_bc = valid_media_ids
        else:
            from fastpasta_spark.functions.cache import track_release

            vm_bc = docs.sparkSession.sparkContext.broadcast(
                frozenset(valid_media_ids))
            track_release(vm_bc.unpersist)
    return docs.select("doc_id", "spans").mapInArrow(
        _make_arrow_pass(fused, trigger_period, chips_per_lane,
                         legal_chip_orderings, valid_media=vm_bc),
        schema=SEQ_OUT_SCHEMA
    )


def split_sequence_output(out: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split the pass output into (violations, merged stats).

    Stats partials merge by SUM except the min/max names — the same
    partial+final aggregation shape as the reference's stats funnel,
    expressed as a groupBy (map-side combine + tiny shuffle).
    """
    violations = out.filter(F.col("row_type") == "v").select(
        "doc_id", "span_idx", "offset", "check_code", "severity", "message"
    )
    stats = (
        out.filter(F.col("row_type") == "s")
        .groupBy("stat_name")
        .agg(
            F.when(F.col("stat_name") == "text_len_min", F.min("stat_value"))
            .when(F.col("stat_name") == "text_len_max", F.max("stat_value"))
            .otherwise(F.sum("stat_value"))
            .alias("value")
        )
        .select(F.col("stat_name").alias("name"), "value")
    )
    return violations, stats
