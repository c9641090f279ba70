"""Compiled filter predicates and their per-block kernels.

``_Pred`` compiles one (column, predicate) pair into zone bounds for
block pruning, an integer-lane matcher and a replay-state factory for
string columns. The state classes replay a partition's running global
dictionary in block order and match rows through their dictionary
codes (ARCADE's carried offset, process.cpp:241), so string predicates
run once per distinct value, not once per row.

This module is a leaf: the files-mode read path (``partread``) is its
only user.
"""

from __future__ import annotations

import numpy as np

from arcade_spark.bits import unpack_sections, unpack_uints, unpack_validity
from arcade_spark.codecs import strcodecs as sc
from arcade_spark.codecs.intcodecs import decode_for_int
from arcade_spark.gdict import GlobalDictDecoder
from arcade_spark.postpass import unpost


def _searchsorted_bytes(sorted_obj: np.ndarray, value: bytes) -> int:
    """Index of value in a sorted object array of bytes, or -1."""
    i = int(np.searchsorted(sorted_obj, value))
    if i < len(sorted_obj) and sorted_obj[i] == value:
        return i
    return -1


class _StrFilterState:
    """Per-(part, column) filter state: running dict replay + the
    memoized global code of the target value (ARCADE's carried offset,
    recomputed only after a dict reset — process.cpp:241)."""

    def __init__(self, value: bytes):
        self.value = value
        self.gdec = GlobalDictDecoder()
        self.target_gid = -1

    def _absorb_segment(self, segment) -> None:
        import pyarrow as pa
        import pyarrow.compute as pc

        if self.target_gid < 0 and len(segment):
            idx = int(
                pc.index(segment, pa.scalar(self.value, type=pa.large_binary())).as_py()
            )
            if idx >= 0:
                self.target_gid = len(self.gdec) + idx
        self.gdec.append(segment)

    def match_positions(self, blob, meta: dict) -> np.ndarray:
        """Positions of rows equal to the target value in this block;
        advances replay state either way."""
        validity_sec, payload = unpack_sections(blob)
        payload = unpost(payload, meta.get("post"))
        codec = meta["codec"]
        if meta.get("gdict_reset"):
            self.gdec.reset()
            self.target_gid = -1
        n = meta["n_values"]

        if codec == "dict_global":
            self._absorb_segment(sc._deserialize_values_arrow(meta["seg"]))
            if self.target_gid < 0:
                return np.empty(0, dtype=np.int64)
            codes = unpack_uints(payload, meta["code_width"], n).view(np.int64)
            pos = np.nonzero(codes == self.target_gid)[0]
        elif codec == "dict_local":
            uniques = sc._deserialize_values_arrow(meta["seg"])
            if meta.get("gdict_seed"):
                self._absorb_segment(uniques)
            import pyarrow as pa
            import pyarrow.compute as pc

            code = int(
                pc.index(uniques, pa.scalar(self.value, type=pa.large_binary())).as_py()
            )
            if code < 0:
                return np.empty(0, dtype=np.int64)
            codes = unpack_uints(payload, meta["code_width"], n).view(np.int64)
            pos = np.nonzero(codes == code)[0]
        elif codec == "rle_str":
            dict_sec, codes_sec, lens_sec = unpack_sections(payload)
            uniques = sc._deserialize_values(dict_sec)
            code = _searchsorted_bytes(uniques, self.value)
            if code < 0:
                return np.empty(0, dtype=np.int64)
            import struct

            (nruns,) = struct.unpack_from("<I", codes_sec, 0)
            run_codes = unpack_uints(codes_sec[4:], meta["code_width"], nruns).view(np.int64)
            run_lens = decode_for_int(lens_sec, {"n_values": nruns})
            pos = np.nonzero(np.repeat(run_codes == code, run_lens))[0]
        else:  # plain / fsst: materialize then byte-compare
            if codec == "plain":
                block = sc.decode_plain(payload, meta)
            else:
                block = sc.decode_fsst(payload, meta)
            obj = block.to_object_array()
            pos = np.nonzero(obj == self.value)[0]

        validity = unpack_validity(validity_sec, n)
        if validity is not None and len(pos):
            pos = pos[validity[pos]]
        return pos

    def replay(self, meta: dict) -> None:
        """Advance replay state from the segment alone — pruned chunks
        ship ``seg`` but a NULL blob (FORMAT_REV 6 split)."""
        if meta.get("gdict_reset"):
            self.gdec.reset()
            self.target_gid = -1
        codec = meta["codec"]
        if codec == "dict_global" or (codec == "dict_local" and meta.get("gdict_seed")):
            self._absorb_segment(sc._deserialize_values_arrow(meta["seg"]))


class _MaskState:
    """Shared replay skeleton for dictionary-mask string predicates (IN,
    BETWEEN, prefix/contains/suffix). A concrete class supplies
    ``_flags(arr) -> bool[n]`` evaluating the predicate over dictionary
    ENTRIES (Arrow C-side — no Python objects per entry); blocks then
    match through their bit-packed codes against a growing per-entry
    bitmask of the running global dictionary — O(dict) string work total,
    O(n) integer mask-gather per block, no string materialization. This
    is the dictionary-encoding payoff ARCADE's code-compare exploits for
    equality (process.cpp:241), generalized to any per-value predicate.
    plain/fsst blocks (where dictionaries lost) materialize and run the
    same Arrow kernel over the block values."""

    def __init__(self):
        self.mask = np.zeros(0, dtype=bool)

    def _flags(self, arr) -> np.ndarray:  # pragma: no cover - abstract
        raise NotImplementedError

    def _absorb_segment(self, segment) -> None:
        if len(segment):
            self.mask = np.concatenate([self.mask, self._flags(segment)])

    def match_positions(self, blob, meta: dict) -> np.ndarray:
        validity_sec, payload = unpack_sections(blob)
        payload = unpost(payload, meta.get("post"))
        codec = meta["codec"]
        if meta.get("gdict_reset"):
            self.mask = np.zeros(0, dtype=bool)
        n = meta["n_values"]

        if codec == "dict_global":
            self._absorb_segment(sc._deserialize_values_arrow(meta["seg"]))
            if not self.mask.any():
                return np.empty(0, dtype=np.int64)
            codes = unpack_uints(payload, meta["code_width"], n).view(np.int64)
            pos = np.nonzero(self.mask[codes])[0]
        elif codec == "dict_local":
            uniques = sc._deserialize_values_arrow(meta["seg"])
            if meta.get("gdict_seed"):
                self._absorb_segment(uniques)
            flags = self._flags(uniques)
            if not flags.any():
                return np.empty(0, dtype=np.int64)
            codes = unpack_uints(payload, meta["code_width"], n).view(np.int64)
            pos = np.nonzero(flags[codes])[0]
        elif codec == "rle_str":
            dict_sec, codes_sec, lens_sec = unpack_sections(payload)
            uniques = sc._deserialize_values_arrow(dict_sec)
            flags = self._flags(uniques)
            if not flags.any():
                return np.empty(0, dtype=np.int64)
            import struct

            (nruns,) = struct.unpack_from("<I", codes_sec, 0)
            run_codes = unpack_uints(codes_sec[4:], meta["code_width"], nruns).view(np.int64)
            run_lens = decode_for_int(lens_sec, {"n_values": nruns})
            pos = np.nonzero(np.repeat(flags[run_codes], run_lens))[0]
        else:  # plain / fsst: materialize, same Arrow kernel on values
            import pyarrow as pa

            if codec == "plain":
                block = sc.decode_plain(payload, meta)
            else:
                block = sc.decode_fsst(payload, meta)
            obj = block.to_object_array()
            # null slots decode to None — substitute b"" (validity
            # gating below removes them)
            obj = np.where(obj == None, b"", obj)  # noqa: E711
            arr = pa.array(obj, type=pa.large_binary())
            pos = np.nonzero(self._flags(arr))[0]

        validity = unpack_validity(validity_sec, n)
        if validity is not None and len(pos):
            pos = pos[validity[pos]]
        return pos

    def replay(self, meta: dict) -> None:
        if meta.get("gdict_reset"):
            self.mask = np.zeros(0, dtype=bool)
        codec = meta["codec"]
        if codec == "dict_global" or (codec == "dict_local" and meta.get("gdict_seed")):
            self._absorb_segment(sc._deserialize_values_arrow(meta["seg"]))


class _StrInState(_MaskState):
    """IN-list: Arrow C-side set membership over dictionary entries (the
    multi-value generalization of _StrFilterState's carried offset)."""

    def __init__(self, values: list[bytes]):
        super().__init__()
        self.values = sorted(set(values))

    def _flags(self, arr) -> np.ndarray:
        import pyarrow as pa
        import pyarrow.compute as pc

        if len(arr) == 0:
            return np.zeros(0, dtype=bool)
        vals = pa.array(self.values, type=pa.large_binary())
        return pc.is_in(arr, value_set=vals).to_numpy(zero_copy_only=False).astype(bool)


class _StrRangeState(_MaskState):
    """BETWEEN: Arrow C-side bound compares over dictionary entries."""

    def __init__(self, lo: bytes, hi: bytes):
        super().__init__()
        self.lo = lo
        self.hi = hi

    def _flags(self, arr) -> np.ndarray:
        import pyarrow as pa
        import pyarrow.compute as pc

        if len(arr) == 0:
            return np.zeros(0, dtype=bool)
        lo = pa.scalar(self.lo, type=pa.large_binary())
        hi = pa.scalar(self.hi, type=pa.large_binary())
        m = pc.and_(pc.greater_equal(arr, lo), pc.less_equal(arr, hi))
        return m.to_numpy(zero_copy_only=False).astype(bool)


_RE2_META = set(b"\\+*?()|[]{}^$.#&~-")


def _like_to_regex(pattern: bytes) -> bytes:
    """SQL LIKE pattern → anchored RE2: ``%`` → ``.*``, ``_`` → ``.``,
    everything else escaped byte-wise. ``(?s)`` so ``_``/``%`` match
    newline bytes too (SQL wildcards are byte wildcards). No escape
    character (``\\%``) — use filter_contains for literal percent
    signs."""
    out = bytearray(b"(?s)^")
    for byte in pattern:
        b = bytes([byte])
        if b == b"%":
            out += b".*"
        elif b == b"_":
            out += b"."
        elif byte in _RE2_META:
            out += b"\\" + b
        else:
            out += b
    out += b"$"
    return bytes(out)


def _like_literal_prefix(pattern: bytes) -> bytes:
    """The literal prefix of a LIKE pattern before the first wildcard
    (may be empty) — the zone-prunable part."""
    for i, byte in enumerate(pattern):
        if byte in (0x25, 0x5F):  # % _
            return pattern[:i]
    return pattern


class _StrLikeState(_MaskState):
    """Full SQL LIKE: the translated RE2 runs once per dictionary
    ENTRY (Arrow match_substring_regex); rows match through codes."""

    def __init__(self, pattern: bytes):
        super().__init__()
        self.regex = _like_to_regex(pattern)

    def _flags(self, arr) -> np.ndarray:
        import pyarrow.compute as pc

        if len(arr) == 0:
            return np.zeros(0, dtype=bool)
        m = pc.match_substring_regex(arr, pattern=self.regex)
        return m.to_numpy(zero_copy_only=False).astype(bool)


class _StrHashSampleState(_MaskState):
    """Deterministic hash sampling: a value matches iff
    ``md5_60bit(value) % denominator < numerator`` (md5's first 15 hex
    digits — the same replayable construction the fingerprint oracles
    use, so DuckDB reproduces it exactly). On dict paths the hash runs
    once per DISTINCT value; sampling on a unique-ish key column (url,
    text) is row-level sampling, on a low-cardinality column it is
    whole-group sampling — both deterministic across engines and
    re-runs (no RNG state)."""

    def __init__(self, numerator: int, denominator: int):
        super().__init__()
        if not (0 <= numerator <= denominator and denominator > 0):
            raise ValueError(
                f"need 0 <= numerator <= denominator, got "
                f"{numerator}/{denominator}"
            )
        self.numer = numerator
        self.denom = denominator

    def _flags(self, arr) -> np.ndarray:
        import hashlib

        if len(arr) == 0:
            return np.zeros(0, dtype=bool)
        n, d = self.numer, self.denom
        return np.array(
            [
                int(hashlib.md5(v).hexdigest()[:15], 16) % d < n
                for v in arr.to_pylist()
            ],
            dtype=bool,
        )


class _StrMatchState(_MaskState):
    """prefix / contains / suffix (``LIKE 'p%'`` / ``'%s%'`` / ``'%s'``):
    Arrow C-side ``starts_with`` / ``match_substring`` / ``ends_with``
    over dictionary entries — the predicate runs once per DISTINCT
    value, then O(rows) integer code-gather, which is exactly why
    substring search over a dict-encoded web corpus is cheap."""

    _FNS = {"prefix": "starts_with", "contains": "match_substring",
            "suffix": "ends_with"}

    def __init__(self, kind: str, pattern: bytes):
        super().__init__()
        if not pattern:
            raise ValueError(f"{kind} pattern must be non-empty")
        self.kind = kind
        self.pattern = pattern

    def _flags(self, arr) -> np.ndarray:
        import pyarrow.compute as pc

        if len(arr) == 0:
            return np.zeros(0, dtype=bool)
        fn = getattr(pc, self._FNS[self.kind])
        return fn(arr, pattern=self.pattern).to_numpy(zero_copy_only=False).astype(bool)


def _complement_positions(pos: np.ndarray, blob, n: int) -> np.ndarray:
    """VALID positions of a block not in ``pos`` — the negated-predicate
    complement (nulls satisfy neither the inner predicate nor its
    negation, per SQL three-valued logic)."""
    validity_sec = unpack_sections(blob)[0]
    validity = unpack_validity(validity_sec, n)
    allp = (
        np.arange(n, dtype=np.int64)
        if validity is None
        else np.nonzero(validity)[0].astype(np.int64)
    )
    return np.setdiff1d(allp, pos, assume_unique=True)


def _encode_bound(v):
    return v.encode() if isinstance(v, str) else v


def _prefix_upper(p: bytes) -> bytes | None:
    """Smallest byte string greater than EVERY value with prefix ``p``
    (exclusive upper bound of the prefix range): the rightmost byte
    < 0xFF incremented, tail dropped. None when p is all 0xFF (the
    prefix range is unbounded above)."""
    b = bytearray(p)
    for i in range(len(b) - 1, -1, -1):
        if b[i] != 0xFF:
            return bytes(b[:i]) + bytes([b[i] + 1])
    return None


def _int_literal(v) -> int:
    """Query literal → the stored int64 lane: bools → 0/1, dates →
    epoch days, datetimes → epoch micros (UTC when naive), ints pass
    through."""
    import datetime as _dt

    if isinstance(v, bool):
        return int(v)
    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=_dt.timezone.utc)
        epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
        return (v - epoch) // _dt.timedelta(microseconds=1)
    if isinstance(v, _dt.date):
        return (v - _dt.date(1970, 1, 1)).days
    return int(v)


class _Pred:
    """Compiled per-column predicate: zone bounds, kernel matcher,
    replay-state factory."""

    def __init__(self, column: str, vtype: str, pred: tuple):
        from arcade_spark.bits import float_order_key

        self.column = column
        self.vtype = vtype
        self.is_str = vtype in ("str", "binary")
        self.is_float = vtype in ("double", "float")
        # negated forms wrap the positive predicate: the kernel matches
        # the inner predicate and complements within VALID rows (SQL:
        # nulls satisfy neither x = v nor x <> v)
        _neg_map = {"neq": "eq", "not_in": "in", "not_range": "range",
                    "not_prefix": "prefix", "not_contains": "contains",
                    "not_suffix": "suffix", "not_like": "like",
                    "not_sample": "sample"}
        self.negated = pred[0] in _neg_map
        if self.negated:
            pred = (_neg_map[pred[0]], *pred[1:])
        self.kind = pred[0]
        if self.kind == "sample":
            if not self.is_str:
                raise ValueError(
                    f"sample predicates apply to string/binary columns "
                    f"only; {column!r} is {vtype}"
                )
            self.numer, self.denom = int(pred[1]), int(pred[2])
            if not (0 <= self.numer <= self.denom and self.denom > 0):
                raise ValueError(
                    f"need 0 <= numerator <= denominator, got "
                    f"{self.numer}/{self.denom}"
                )
            self.lob = self.hib = None  # hashes carry no order: no zone prune
            return
        if self.kind == "like":
            if not self.is_str:
                raise ValueError(
                    f"like predicates apply to string/binary columns "
                    f"only; {column!r} is {vtype}"
                )
            self.pattern = _encode_bound(pred[1])
            if not self.pattern:
                raise ValueError("like pattern must be non-empty")
            # zone envelope from the literal prefix before the first
            # wildcard: every match lies in [prefix, next_prefix(prefix))
            lit = _like_literal_prefix(self.pattern)
            self.lob = lit if lit else None
            self.hib = _prefix_upper(lit) if lit else None
            return
        if self.kind in ("prefix", "contains", "suffix"):
            if not self.is_str:
                raise ValueError(
                    f"{self.kind} predicates apply to string/binary "
                    f"columns only; {column!r} is {vtype}"
                )
            self.pattern = _encode_bound(pred[1])
            if not self.pattern:
                raise ValueError(f"{self.kind} pattern must be non-empty")
            # zone envelope: every value with prefix p lies in
            # [p, _prefix_upper(p)); contains/suffix admit any value —
            # no zone pruning (lob/hib None ⇒ keep)
            if self.kind == "prefix":
                self.lob, self.hib = self.pattern, _prefix_upper(self.pattern)
            else:
                self.lob = self.hib = None
            return
        if self.kind == "eq":
            self.lob = self.hib = _encode_bound(pred[1])
        elif self.kind == "in":
            self.in_vals = [_encode_bound(v) for v in pred[1]]
            if not self.in_vals:
                raise ValueError("empty IN list")
            if self.is_str:
                self.lob, self.hib = min(self.in_vals), max(self.in_vals)
            else:
                fv = [float(v) if self.is_float else _int_literal(v) for v in self.in_vals]
                self.lob, self.hib = min(fv), max(fv)
        else:
            self.lob, self.hib = _encode_bound(pred[1]), _encode_bound(pred[2])
        if not self.is_str:
            if self.kind == "eq":
                if self.is_float:
                    # stored bitcast: equality compares bit patterns,
                    # zone prune compares order-preserving keys. ±0.0
                    # are SQL-equal but distinct bit patterns — expand
                    # a zero literal to both and widen the zone
                    # envelope across both keys (-1 and 0)
                    f = float(self.lob)
                    pats = {int(np.float64(f).view(np.int64))}
                    if f == 0.0:
                        pats.add(int(np.float64(-0.0).view(np.int64)))
                        pats.add(int(np.float64(0.0).view(np.int64)))
                    self.targets = np.array(sorted(pats), dtype=np.int64)
                    keys = [
                        float_order_key(float(np.int64(p).view(np.float64)))
                        for p in pats
                    ]
                    self.zone_lo, self.zone_hi = min(keys), max(keys)
                else:
                    self.target_int = _int_literal(self.lob)
                    self.zone_lo = self.zone_hi = self.target_int
            elif self.kind == "in":
                if self.is_float:
                    pats = {
                        int(np.float64(float(v)).view(np.int64)) for v in self.in_vals
                    }
                    if any(float(v) == 0.0 for v in self.in_vals):
                        pats.add(int(np.float64(-0.0).view(np.int64)))
                        pats.add(int(np.float64(0.0).view(np.int64)))
                    self.targets = np.array(sorted(pats), dtype=np.int64)
                    keys = [
                        float_order_key(float(np.int64(p).view(np.float64)))
                        for p in pats
                    ]
                    self.zone_lo, self.zone_hi = min(keys), max(keys)
                else:
                    self.targets = np.array(
                        [_int_literal(v) for v in self.in_vals], dtype=np.int64
                    )
                    self.zone_lo, self.zone_hi = int(self.lob), int(self.hib)
            else:
                if self.is_float:
                    self.flo, self.fhi = float(self.lob), float(self.hib)
                    # a bound of 0.0 admits both ±0.0 bit patterns —
                    # widen the key envelope across the zero pair
                    self.zone_lo = (
                        float_order_key(-0.0)
                        if self.flo == 0.0
                        else float_order_key(self.flo)
                    )
                    self.zone_hi = (
                        float_order_key(0.0)
                        if self.fhi == 0.0
                        else float_order_key(self.fhi)
                    )
                else:
                    self.ilo, self.ihi = _int_literal(self.lob), _int_literal(self.hib)
                    self.zone_lo, self.zone_hi = self.ilo, self.ihi

    def target_keys(self) -> list[int]:
        """Zone-key(s) of the inner eq/IN targets — used by the negated
        all-match prune (a block whose zone is a single key equal to a
        target provably matches everywhere → its complement is empty)."""
        from arcade_spark.bits import float_order_key

        if self.kind == "eq":
            if self.is_float:
                return [float_order_key(float(np.int64(p).view(np.float64)))
                        for p in self.targets]
            return [self.target_int]
        if self.kind == "in":
            if self.is_float:
                return [float_order_key(float(np.int64(p).view(np.float64)))
                        for p in self.targets]
            return [int(t) for t in self.targets]
        return []

    def new_state(self):
        if self.kind == "eq":
            return _StrFilterState(self.lob)
        if self.kind == "in":
            return _StrInState(self.in_vals)
        if self.kind == "sample":
            return _StrHashSampleState(self.numer, self.denom)
        if self.kind == "like":
            return _StrLikeState(self.pattern)
        if self.kind in ("prefix", "contains", "suffix"):
            return _StrMatchState(self.kind, self.pattern)
        return _StrRangeState(self.lob, self.hib)

    def int_positions(self, iblock) -> np.ndarray:
        if self.kind == "eq":
            if self.is_float:
                # 1 or 2 bit patterns (±0.0 expansion)
                m = np.isin(iblock.values, self.targets)
            else:
                m = iblock.values == self.target_int
        elif self.kind == "in":
            m = np.isin(iblock.values, self.targets)
        elif self.is_float:
            v = iblock.values.view(np.float64)
            m = (v >= self.flo) & (v <= self.fhi)
        else:
            m = (iblock.values >= self.ilo) & (iblock.values <= self.ihi)
        if self.negated:
            m = ~m
        pos = np.nonzero(m)[0]
        if iblock.validity is not None and len(pos):
            pos = pos[iblock.validity[pos]]
        return pos
