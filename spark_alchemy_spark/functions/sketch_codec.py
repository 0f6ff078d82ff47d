"""Apache Datasketches HLL sketch images: the one module that reads and
writes them.

Spark >=3.5 executes HLL aggregation with Apache Datasketches
(``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_union`` /
``hll_sketch_estimate``).  Those built-ins cover every *aggregate* use,
but the reference also ships per-row scalar sketch builders
(``hll_init`` / ``hll_init_collection``, reference
alchemy/.../hll/HLLFunctions.scala:192-218, :294-321) for which Spark has
no built-in.  Running an aggregate per row would shuffle the whole table;
instead :func:`row_images` builds one serialized sketch per row of an
Arrow batch, and both HLL surfaces (DataFrame and SQL) call it through
one small Arrow UDF.  The bytes are *bit-compatible* with Datasketches'
updatable serialization, so the JVM built-ins can union and estimate
them natively — verified by round-trip tests against ``hll_sketch_agg``
output.  :func:`ds_parse` / :func:`ds_registers` read any image back
(the AgKn and StreamLib transcoders start from it).

Format knowledge is from the public Apache Datasketches HLL
serialization spec and datasketches-java (PreambleUtil.java):

* LIST mode  (<= 7 coupons):  8-byte preamble + 2^3 coupon ints
* SET  mode  (>  7 coupons): 12-byte preamble + open-hash coupon array
* HLL_8 mode (more than 2^lgK / 4 coupons): 40-byte preamble + 2^lgK
  one-byte registers

Each distinct input value contributes one "coupon":
``murmur3_128(value_bytes, seed=9001)`` -> ``slot = h0 & (2^26-1)``,
``val = min(nlz(h1), 62) + 1``, ``coupon = (val << 26) | slot``.

Inputs are always the engine's 64-bit cardinality hashes (see
``hashing.py``), serialized little-endian — matching how the JVM path
feeds BIGINT to ``hll_sketch_agg`` (datasketches ``update(long)``).
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa

MURMUR_SEED = 9001  # datasketches DEFAULT_UPDATE_SEED
_C1 = 0x87C37B91114253D5
_C2 = 0x4CF5AD432745937F

_KEY_BITS = 26
_KEY_MASK = (1 << _KEY_BITS) - 1

_SER_VER = 1
_FAMILY_HLL = 7
_HLL_8 = 2  # tgtHllType used by Spark's built-ins

_MODE_LIST = 0
_MODE_SET = 1
_MODE_HLL = 2

_FLAG_EMPTY = 0x04
_FLAG_OUT_OF_ORDER = 0x10

_LIST_MAX = 7  # java's 8-slot coupon list (lgArr 3) holds up to 7
_LIST_BYTES = 8 + 4 * 8


def _preamble(pre_ints: int, lg_k: int, lg_arr: int, flags: int, lo_field: int, mode: int) -> bytes:
    """Bytes 0..7 common to all images.

    [0]=preInts [1]=serVer [2]=family [3]=lgK [4]=lgArr [5]=flags
    [6]=listCount (LIST) / curMin (HLL) / 0 (SET)
    [7]=modeByte = (tgtHllType<<2)|curMode
    """
    mode_byte = (_HLL_8 << 2) | mode
    return bytes([pre_ints, _SER_VER, _FAMILY_HLL, lg_k, lg_arr, flags, lo_field, mode_byte])


# ---------------------------------------------------------------------------
# Coupons.  Inputs are always the engine's 64-bit hashes => fixed 8-byte
# messages, so the murmur3 block loop degenerates to a branch-free tail +
# finalization that maps 1:1 onto uint64 array ops.
# ---------------------------------------------------------------------------

_U64 = np.uint64


def _rotl_vec(x, r):
    return (x << _U64(r)) | (x >> _U64(64 - r))


def _fmix_vec(k):
    k = k ^ (k >> _U64(33))
    k = k * _U64(0xFF51AFD7ED558CCD)
    k = k ^ (k >> _U64(33))
    k = k * _U64(0xC4CEB9FE1A85EC53)
    return k ^ (k >> _U64(33))


def _nlz64_vec(x):
    """Number of leading zeros per element of a uint64 array."""
    n = np.full(x.shape, 64, dtype=np.int64)
    shift = 32
    cur = x.copy()
    while shift:
        big = cur >= (_U64(1) << _U64(shift))
        n = np.where(big, n - shift, n)
        cur = np.where(big, cur >> _U64(shift), cur)
        shift //= 2
    return n - (cur > 0).astype(np.int64)


def coupons_for_longs(values: "np.ndarray") -> "np.ndarray":
    """Coupon of each 64-bit input (datasketches ``update(long)``) over an
    int64/uint64 array."""
    with np.errstate(over="ignore"):
        k1 = values.astype(np.int64).view(_U64)
        k1 = k1 * _U64(_C1)
        k1 = _rotl_vec(k1, 31)
        k1 = k1 * _U64(_C2)
        h1 = _U64(MURMUR_SEED) ^ k1
        h2 = np.full(values.shape, MURMUR_SEED, dtype=_U64)
        h1 = h1 ^ _U64(8)
        h2 = h2 ^ _U64(8)
        h1 = h1 + h2
        h2 = h2 + h1
        h1 = _fmix_vec(h1)
        h2 = _fmix_vec(h2)
        h1 = h1 + h2
        h2 = h2 + h1
    slot = (h1 & _U64(_KEY_MASK)).astype(np.int64)
    val = np.minimum(_nlz64_vec(h2), 62) + 1
    return ((val << _KEY_BITS) | slot).astype(np.int64)


def coupons_to_registers(coupons: np.ndarray, lg_k: int) -> np.ndarray:
    """Densify coupons exactly as the Java library does on insert:
    ``slot = coupon_low26 & (2^lgK - 1)``, ``value = coupon >> 26``,
    max per slot."""
    m = 1 << lg_k
    regs = np.zeros(m, dtype=np.uint8)
    if len(coupons):
        slots = (coupons & _KEY_MASK) & (m - 1)
        vals = (coupons >> _KEY_BITS).astype(np.uint8)
        np.maximum.at(regs, slots, vals)
    return regs


# ---------------------------------------------------------------------------
# Writers
# ---------------------------------------------------------------------------


def _list_block(counts: np.ndarray, coupons: np.ndarray, lg_k: int) -> np.ndarray:
    """LIST images of consecutive rows as one ``(rows, 40)`` byte block.

    ``counts`` holds each row's coupon count (<= 7); ``coupons`` the
    rows' sorted distinct coupons, concatenated in row order.  Each
    image mirrors a freshly updated heap sketch: the 8-byte preamble,
    then an 8-slot coupon list, zero-padded.
    """
    block = np.zeros((len(counts), _LIST_BYTES), dtype=np.uint8)
    block[:, :8] = np.frombuffer(_preamble(2, lg_k, 3, 0, 0, _MODE_LIST), dtype=np.uint8)
    block[:, 5] = np.where(counts == 0, _FLAG_EMPTY, 0)
    block[:, 6] = counts
    row = np.repeat(np.arange(len(counts)), counts)
    rank = np.arange(len(coupons)) - (np.cumsum(counts) - counts)[row]
    block.view("<u4")[row, 2 + rank] = coupons
    return block


def serialize_coupons(coupons, lg_k: int) -> bytes:
    """Serialize a set of coupons as an updatable LIST or SET image.

    LIST (count <= 7) is a one-row :func:`_list_block`; larger counts use
    the coupon hash-set (SET mode) with the open-addressing layout
    datasketches expects (stride probing on the low bits).
    """
    cset = np.unique(np.asarray(coupons, dtype=np.int64))
    n = len(cset)
    if n <= _LIST_MAX:
        return _list_block(np.array([n]), cset, lg_k).tobytes()
    lg_arr = 5  # java promotes LIST->SET at a 32-slot hash
    while n > (3 << (lg_arr - 2)):  # 0.75 load factor
        lg_arr += 1
    size = 1 << lg_arr
    arr = [0] * size
    mask = size - 1
    for c in cset.tolist():
        probe = c & mask
        stride = ((c & _KEY_MASK) >> lg_arr) | 1
        while arr[probe] != 0:
            probe = (probe + stride) & mask
        arr[probe] = c
    head = _preamble(3, lg_k, lg_arr, 0x00, 0, _MODE_SET)
    return head + struct.pack("<i", n) + np.array(arr, dtype="<u4").tobytes()


# Dense (HLL-mode) images: what a promoted / merged sketch serializes to.
# Layout confirmed against Spark's own hll_sketch_agg output (updatable
# HLL_8, preInts=10): [0..7] common preamble with curMin at byte 6, then
# hipAccum / kxq0 / kxq1 as little-endian doubles, numAtCurMin, auxCount,
# then 2^lgK one-byte registers.  We emit hip=0 with the OUT_OF_ORDER
# flag (0x10) set — exactly what a DS union produces — so readers use the
# register-derived composite estimator, never a stale HIP value.


def serialize_dense(lg_k: int, registers: "np.ndarray") -> bytes:
    """Updatable HLL_8 image from a dense register array."""
    m = 1 << lg_k
    regs = np.asarray(registers, dtype=np.uint8)
    if len(regs) != m:
        raise ValueError(f"expected {m} registers, got {len(regs)}")
    cur_min = int(regs.min())
    num_at_cur_min = int((regs == cur_min).sum())
    powers = np.power(2.0, -regs.astype(np.float64))
    kxq0 = float(powers[regs < 32].sum())
    kxq1 = float(powers[regs >= 32].sum())
    head = _preamble(10, lg_k, 0, _FLAG_OUT_OF_ORDER, cur_min, _MODE_HLL)
    mid = struct.pack("<dddii", 0.0, kxq0, kxq1, num_at_cur_min, 0)
    return head + mid + regs.tobytes()


def _image(coupons: np.ndarray, lg_k: int) -> bytes:
    """The one promotion rule: coupon image while small, dense HLL_8 once
    the register file is the smaller representation (more than m/4
    distinct coupons)."""
    if len(coupons) * 4 > 1 << lg_k:
        return serialize_dense(lg_k, coupons_to_registers(coupons, lg_k))
    return serialize_coupons(coupons, lg_k)


def row_images(hashes, rows, n_rows: int, nulls, lg_k: int) -> pa.Array:
    """One image per row: the per-row sketch kernel behind ``hll_init`` /
    ``hll_init_collection`` on both surfaces.

    Row ``i`` sketches every hash whose parent index in ``rows`` is
    ``i``; a row flagged in the boolean ``nulls`` mask (or ``None``: no
    nulls) is NULL, any other row without hashes is the empty sketch
    (cardinality 0, reference HLLFunctions.scala:105-111).  LIST rows
    (<= 7 distinct coupons and below the dense break-even) — nearly all
    of them for scalar inits — are written as one numpy byte block; only
    SET and dense rows build their image one at a time.  Returns an
    Arrow ``binary`` array.
    """
    coupons = coupons_for_longs(np.asarray(hashes, dtype=np.int64))
    # coupons < 2^32: one sort of (row, coupon) keys groups AND dedups
    keys = np.unique((np.asarray(rows, dtype=np.int64) << 32) | coupons)
    r, c = keys >> 32, keys & 0xFFFFFFFF
    counts = np.bincount(r, minlength=n_rows)
    valid = np.ones(n_rows, dtype=bool) if nulls is None else ~np.asarray(nulls, dtype=bool)
    small = valid & (counts <= min(_LIST_MAX, (1 << lg_k) // 4))
    small_rows = np.flatnonzero(small)
    block = _list_block(counts[small_rows], c[small[r]], lg_k)
    starts = np.cumsum(counts) - counts
    big_rows = np.flatnonzero(valid & ~small)
    big = [_image(c[starts[i] : starts[i] + counts[i]], lg_k) for i in big_rows]
    sizes = np.where(small, _LIST_BYTES, 0)
    sizes[big_rows] = [len(b) for b in big]
    pieces, prev = [], 0
    for k, image in zip(np.searchsorted(small_rows, big_rows), big):
        pieces += [block[prev:k].ravel(), np.frombuffer(image, dtype=np.uint8)]
        prev = k
    pieces.append(block[prev:].ravel())
    offsets = np.concatenate(([0], np.cumsum(sizes)))
    # int64 offsets: the cast raises, rather than wraps, past 2 GiB
    return pa.Array.from_buffers(
        pa.large_binary(),
        n_rows,
        [
            pa.py_buffer(np.packbits(valid, bitorder="little")),
            pa.py_buffer(offsets),
            pa.py_buffer(np.concatenate(pieces)),
        ],
    ).cast(pa.binary())


def sketch_bytes_from_hashes_vec(hashes, lg_k: int) -> bytes:
    """Serialized sketch holding every 64-bit hash in ``hashes`` (the
    one-row :func:`row_images`; the SQL UDAF path's whole-group image).
    Empty input -> a valid empty sketch (cardinality 0)."""
    return row_images(hashes, np.zeros(len(hashes), dtype=np.int64), 1, None, lg_k)[0].as_py()


# ---------------------------------------------------------------------------
# Readers
# ---------------------------------------------------------------------------


def ds_parse(data: bytes) -> tuple[str, int, np.ndarray]:
    """Parse a Datasketches HLL image WITHOUT densifying coupon modes.

    Returns ``("coupons", lg_k, int64 coupon array)`` for LIST/SET
    images or ``("dense", lg_k, uint8 registers)`` for HLL_8 images, in
    both compact and updatable layouts.  Keeping coupon images as
    coupons matters for bulk unions: a tiny per-row image would
    otherwise allocate a full 2^lgK register array (1 MiB at lgK=20)
    just to carry a handful of values.
    """
    if len(data) < 8:
        raise ValueError("not a Datasketches HLL image: too short")
    lg_k = data[3]
    if not 4 <= lg_k <= 21:
        raise ValueError(f"implausible lgK={lg_k}")
    mode = data[7] & 0x3
    m = 1 << lg_k
    if mode == _MODE_HLL:
        tgt = (data[7] >> 2) & 0x3
        if tgt != _HLL_8:
            raise NotImplementedError(
                "only HLL_8 dense images are supported (Spark's target type)"
            )
        body = np.frombuffer(data, dtype=np.uint8, offset=40, count=m)
        return "dense", lg_k, body.copy()
    if mode == _MODE_LIST:
        count = data[6]
        coupons = np.frombuffer(data, dtype="<i4", offset=8, count=count)
    else:  # SET: count int at 8, open-hash (updatable) or packed (compact)
        (count,) = struct.unpack_from("<i", data, 8)
        avail = (len(data) - 12) // 4
        coupons = np.frombuffer(data, dtype="<i4", offset=12, count=avail)
        coupons = coupons[coupons != 0]
        if len(coupons) != count:
            raise ValueError(
                f"corrupt SET image: {len(coupons)} coupons, count={count}"
            )
    return "coupons", lg_k, coupons.astype(np.int64) & 0xFFFFFFFF


def ds_registers(data: bytes) -> tuple[int, np.ndarray]:
    """Parse a Datasketches HLL image into ``(lg_k, registers)``; dense
    mode must be HLL_8 (what Spark's built-ins and our writer emit)."""
    kind, lg_k, payload = ds_parse(data)
    if kind == "dense":
        return lg_k, payload
    return lg_k, coupons_to_registers(payload, lg_k)


def union_images(images, lg_k_out: int | None = None) -> bytes | None:
    """Union any mix of DS images (LIST/SET/HLL_8) into one image.

    Coupon-mode inputs are accumulated as raw coupons and densified
    ONCE (a per-row LIST image must not allocate a 2^lgK register
    array each — that is what makes unions of many tiny sketches
    O(total coupons), not O(n · 2^lgK)).  Mixed precisions downsample
    to the smallest lgK present (register slot = low lgK bits of the
    26-bit coupon key, and the register value is precision-independent,
    so ``max`` over the slot preimage is the exact DS downsampling
    rule).  All-None input -> None (the reference's "no non-null input
    -> NULL sketch" algebra); all-coupon input below the dense
    break-even stays a coupon image.
    """
    coupon_parts: list[np.ndarray] = []
    dense_parts: list[tuple[int, np.ndarray]] = []
    lg = 32
    seen = False
    for b in images:
        if b is None:
            continue
        seen = True
        kind, k, payload = ds_parse(bytes(b))
        lg = min(lg, k)
        if kind == "coupons":
            coupon_parts.append(payload)
        else:
            dense_parts.append((k, payload))
    if not seen:
        return None
    if lg_k_out is not None:
        lg = min(lg, lg_k_out)
    coupons = (
        np.unique(np.concatenate(coupon_parts))
        if coupon_parts
        else np.empty(0, dtype=np.int64)
    )
    if not dense_parts:
        return _image(coupons, lg)
    m = 1 << lg
    acc = coupons_to_registers(coupons, lg)
    for k, regs in dense_parts:
        if k > lg:
            regs = regs.reshape(1 << (k - lg), m).max(axis=0)
        np.maximum(acc, regs, out=acc)
    return serialize_dense(lg, acc)
