"""Property-based tests (hypothesis) for the pure scalar layer.

The reference has no property testing (SURVEY.md §5); these harden the
engine-portable codecs whose Spark/SQL twins must agree exactly.
"""

import re
import string

from hypothesis import given, settings, strategies as st

from my_weather_spark.model import SeriesRef, UtcPeriod, create_query_id, parse_query_id
from my_weather_spark.ops.scalars import ascii_clean_py, camel_to_snake_py

name_chars = st.text(
    alphabet=string.ascii_letters + string.digits + "_", min_size=1, max_size=30
).filter(lambda s: re.fullmatch(r"\w+", s))


@given(name_chars, name_chars, name_chars)
@settings(max_examples=200, deadline=None)
def test_query_id_round_trip(station, module, dtype):
    url = create_query_id("netatmo", station, module, dtype)
    params = parse_query_id(url, {"station_name", "module_name", "data_type"})
    assert params["station_name"] == station
    assert params["module_name"] == module
    assert params["data_type"] == dtype


@given(st.text(min_size=1, max_size=50))
@settings(max_examples=200, deadline=None)
def test_ascii_clean_invariants(s):
    out = ascii_clean_py(s)
    assert re.fullmatch(r"[a-z0-9\-]*", out), out
    assert ascii_clean_py(out) == out  # idempotent


@given(st.text(alphabet=string.ascii_letters + string.digits, min_size=1, max_size=40))
@settings(max_examples=200, deadline=None)
def test_camel_to_snake_invariants(s):
    out = camel_to_snake_py(s)
    assert out == out.lower()
    assert camel_to_snake_py(out) == out  # idempotent on snake_case


@given(
    st.integers(min_value=0, max_value=2**31),
    st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=100, deadline=None)
def test_period_ordering_enforced(a, b):
    lo, hi = sorted((a, b))
    p = UtcPeriod(lo, hi)
    assert p.contains(lo) and p.contains(hi)  # inclusive both ends
    if hi + 1 <= 2**31:
        assert not p.contains(hi + 1)


@given(
    st.text(max_size=10),
    st.text(alphabet=string.printable, max_size=20),
)
@settings(max_examples=200, deadline=None)
def test_parse_accepts_only_valid_schemes(scheme, rest):
    url = f"{scheme}://{rest}"
    try:
        ref = SeriesRef.parse(url)
        # whatever parsed must carry a syntactically valid scheme
        assert re.fullmatch(r"[a-zA-Z][\w+.-]*", ref.scheme)
    except ValueError:
        # rejected: either the scheme was not a clean valid one, or the
        # rest broke the single-line grammar (the URL regex's `.*`
        # cannot cross a newline — "A://\n0" is rejected for its rest,
        # not its scheme)
        assert not re.fullmatch(r"[a-zA-Z][\w+.-]*", scheme) or any(
            c in rest for c in "\n\r"
        )


def encode_ppm(arr) -> bytes:
    """(h, w) uint8 -> P5 bytes; (h, w, 3) uint8 -> P6 bytes."""
    magic = b"P6" if arr.ndim == 3 else b"P5"
    h, w = arr.shape[:2]
    return magic + b"\n%d %d\n255\n" % (w, h) + arr.tobytes()


@given(
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=12),
    st.booleans(),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=60, deadline=None)
def test_netpbm_round_trip_property(w, h, rgb, seed):
    import numpy as np

    from my_weather_spark.llm.multimodal import decode_ppm

    rng = np.random.default_rng(seed)
    shape = (h, w, 3) if rgb else (h, w)
    arr = rng.integers(0, 256, size=shape, dtype=np.uint8)
    out = decode_ppm(encode_ppm(arr))
    assert out.shape == arr.shape and (out == arr).all()


@given(
    st.integers(min_value=0, max_value=400),
    st.integers(min_value=1, max_value=2),
    st.sampled_from([1000, 8000, 44100]),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=60, deadline=None)
def test_wav_round_trip_property(n, ch, rate, seed):
    import numpy as np

    from my_weather_spark.llm.multimodal import decode_wav, encode_wav

    rng = np.random.default_rng(seed)
    arr = rng.integers(-32768, 32768, size=(n, ch), dtype=np.int16)
    got_rate, out = decode_wav(encode_wav(arr, rate))
    assert got_rate == rate
    assert out.shape == (n, ch) and (out == arr).all()


@given(
    st.integers(min_value=1, max_value=20),
    st.integers(min_value=1, max_value=20),
    st.booleans(),
    st.sampled_from([50, 75, 90]),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_round_trip_property(w, h, rgb, quality, seed):
    """Baseline JPEG is lossy: assert structure (shape/dtype) always,
    and bounded reconstruction error on SMOOTH content (uniform image
    + small additive ramp), where DCT quantization error is small by
    construction. Pure-noise content is exercised in test_llm's
    codec goldens with a looser bound."""
    import numpy as np

    from my_weather_spark.llm.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(seed)
    base = int(rng.integers(30, 226))
    yy, xx = np.mgrid[0:h, 0:w]
    plane = np.clip(base + (xx + yy) % 5, 0, 255).astype(np.uint8)
    arr = np.stack([plane] * 3, axis=2) if rgb else plane
    out = decode_jpeg(encode_jpeg(arr, quality))
    assert out.shape == arr.shape and out.dtype == np.uint8
    err = np.abs(out.astype(int) - arr.astype(int))
    assert err.max() <= 16, err.max()


@given(
    st.integers(min_value=0, max_value=255),
    st.integers(min_value=1, max_value=4),
    st.integers(min_value=1, max_value=4),
)
@settings(max_examples=60, deadline=None)
def test_jpeg_uniform_identity_property(v, bw, bh):
    """The SQL-replayable uniform-block identity (llm/jpeg.py rounding
    contract) holds for every gray value and block-multiple size at
    quality 50 (q00 = 16): decoded pixel =
    clamp(floor(Q*16/8 + 0.5) + 128) with Q = floor(8(v-128)/16 + .5).
    This is the exact math mm_jpeg_image_stats' DuckDB oracle runs."""
    import numpy as np

    from my_weather_spark.llm.jpeg import decode_jpeg, encode_jpeg

    img = np.full((8 * bh, 8 * bw), v, dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(img, quality=50))
    q = np.floor(8.0 * (v - 128) / 16 + 0.5)
    exp = int(np.clip(np.floor(q * 16 / 8 + 0.5) + 128, 0, 255))
    assert out.shape == img.shape
    assert (out == exp).all()


# ----------------------------------------------------------------------
# Batched-BPE selection guard (llm/bpe._select_batch): the batch must
# be EXACTLY the next len(batch) picks of sequential greedy BPE — the
# soundness proof is subtle (created-pair bounds, merged-string
# collisions), so hammer it against a brute-force greedy simulator on
# random small corpora. Pure Python on both sides (no Spark session):
# the simulator mirrors word_vocab/learn_bpe's pair counting exactly.
def _pair_counts(words, freq):
    import collections

    pc = collections.Counter()
    for w, syms in words.items():
        f = freq[w]
        for a, b in zip(syms, syms[1:]):
            pc[(a, b)] += f
    return pc


def _apply_merge(words, l, r):
    m = l + r
    out = {}
    for w, syms in words.items():
        if l in syms and r in syms:
            ns, i, n = [], 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == l and syms[i + 1] == r:
                    ns.append(m)
                    i += 2
                else:
                    ns.append(syms[i])
                    i += 1
            out[w] = tuple(ns)
        else:
            out[w] = syms
    return out


@given(
    st.dictionaries(
        st.text(alphabet="abcd", min_size=1, max_size=6),
        st.integers(min_value=1, max_value=9),
        min_size=1,
        max_size=12,
    ),
    st.integers(min_value=1, max_value=30),
    st.integers(min_value=2, max_value=6),
)
@settings(max_examples=300, deadline=None)
def test_bpe_select_batch_matches_sequential_greedy(freq, n_merges, K):
    from my_weather_spark.llm.bpe import _select_batch

    words = {w: tuple(w) + ("</w>",) for w in freq}
    got, done = [], 0
    while done < n_merges:
        pc = _pair_counts(words, freq)
        if not pc:
            break
        ranked = sorted(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        cands = [(l, r, c) for (l, r), c in ranked[:K]]
        boundary = ranked[K - 1][1] if len(ranked) >= K else -1
        right_max, left_max = {}, {}
        for (l, r), c in pc.items():
            right_max[r] = max(right_max.get(r, 0), c)
            left_max[l] = max(left_max.get(l, 0), c)
        batch = _select_batch(
            cands, right_max, left_max, boundary, n_merges - done
        )
        assert batch, "first candidate must always be accepted"
        for l, r, c in batch:
            got.append((l, r, c))
            words = _apply_merge(words, l, r)
        done += len(batch)
    # brute-force sequential greedy over the same corpus
    words = {w: tuple(w) + ("</w>",) for w in freq}
    exact = []
    for _ in range(n_merges):
        pc = _pair_counts(words, freq)
        if not pc:
            break
        (l, r), c = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        exact.append((l, r, c))
        words = _apply_merge(words, l, r)
    assert got == exact
