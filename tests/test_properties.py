"""Property-based parity: the Spark pipeline vs an independent Python
model of the reference's semantics (written from SURVEY.md's behavioral
description, not copied), over hypothesis-generated record batches.

Model semantics (reference lambda_function.py:43-54):
  decode -> @timestamp := datetime -> pop falsy ip -> ES allowlist dict.
"""

from __future__ import annotations

import base64
import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from kinesis_to_opensearch_lambda_spark.operators import pipeline as P
from kinesis_to_opensearch_lambda_spark.streaming.pipeline import decode_stream

ES_FIELDS = set(P.ES_ALLOWED_FIELDS)

# printable-but-tricky strings: unicode, quotes, backslashes, json-ish
tricky_text = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_categories=("Cs",), max_codepoint=0x2FFF
    ),
    max_size=40,
)

record_st = st.fixed_dictionaries(
    {
        "datetime": st.datetimes(
            min_value=__import__("datetime").datetime(1990, 1, 1),
            max_value=__import__("datetime").datetime(2100, 1, 1),
        ).map(lambda d: d.isoformat()),
        "random_id": st.uuids().map(str),
    },
    optional={
        "kind_id": st.integers(min_value=-(2**31), max_value=2**31),
        "account_id": st.integers(min_value=0, max_value=2**62),
        "performer_id": st.integers(min_value=0, max_value=2**62),
        "repository_id": st.integers(min_value=0, max_value=2**62),
        "ip": st.one_of(st.just(""), st.just("10.1.2.3"), tricky_text),
        "request_url": tricky_text,
        "user_agent": tricky_text,
        "performer_username": tricky_text,
        "x_forwarded_for": tricky_text,
    },
)


def model_process(record: dict) -> dict:
    """Independent reimplementation of the reference transform chain."""
    message = dict(record)
    message["@timestamp"] = message["datetime"]
    if "ip" in message and not message["ip"]:
        message.pop("ip")
    return message


def model_filter_for_es(message: dict) -> dict:
    return {k: v for k, v in message.items() if k in ES_FIELDS}


def spark_roundtrip(spark, records: list[dict]) -> list[dict]:
    rows = [
        (base64.b64encode(json.dumps(r).encode()).decode(),) for r in records
    ]
    env = spark.createDataFrame(rows, "kinesis_data: string")
    df = P.project_es(decode_stream(env))
    import pyspark.sql.functions as F

    # serialize like the sink does: to_json drops nulls = dict-key absence
    out = df.select(
        F.to_json(F.struct(*[df[c] for c in df.columns])).alias("j")
    ).collect()
    return [json.loads(r.j) for r in out]


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(record_st, min_size=1, max_size=8))
def test_pipeline_matches_reference_model(spark, records):
    got = spark_roundtrip(spark, records)
    expected = [
        model_filter_for_es(model_process(r)) for r in records
    ]
    # order-preserving comparison keyed by random_id
    got_by_id = {g["random_id"]: g for g in got}
    assert len(got) == len(expected)
    for e in expected:
        g = got_by_id[e["random_id"]]
        # metadata never generated here; compare the full dicts
        assert g == e, f"\nspark={g}\nmodel={e}"


def model_splunk_event(record: dict) -> dict:
    """Reference Splunk branch: full post-processed record."""
    return model_process(record)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.lists(
        # include hostile @timestamp/ip values to stress the textual
        # JSON derivation (escapes, quotes, backslashes)
        record_st.flatmap(
            lambda r: st.fixed_dictionaries(
                {},
                optional={"@timestamp": tricky_text, "extra_field": tricky_text},
            ).map(lambda extra: {**r, **extra})
        ),
        min_size=1,
        max_size=6,
    )
)
def test_splunk_branch_matches_reference_model(spark, records):
    from kinesis_to_opensearch_lambda_spark.sinks import SplunkHECSink

    rows = [
        (base64.b64encode(json.dumps(r).encode()).decode(),) for r in records
    ]
    env = spark.createDataFrame(rows, "kinesis_data: string")
    sink = SplunkHECSink(transport_factory=None, splunk_index="audit")
    out = [json.loads(r.payload) for r in sink.serialize(decode_stream(env)).collect()]
    assert all(o["sourcetype"] == "json" and o["index"] == "audit" for o in out)
    got = [o["event"] for o in out]
    expected = [model_splunk_event(r) for r in records]
    got_by_id = {g["random_id"]: g for g in got}
    assert len(got) == len(expected)
    for e in expected:
        g = got_by_id[e["random_id"]]
        assert g == e, f"\nspark={g}\nmodel={e}"


# --- MinHash statistical property -------------------------------------


@settings(deadline=None, max_examples=30)
@given(
    base=st.sets(st.text(min_size=1, max_size=12), min_size=8, max_size=60),
    drop=st.floats(min_value=0.0, max_value=0.9),
)
def test_minhash_collision_rate_tracks_jaccard(base, drop):
    """P(minhash_i(A) == minhash_i(B)) = J(A,B) — the estimator that
    makes MinHash-LSH work.  Checked WITHOUT Spark against the same
    pipeline the engine runs (md5 -> 60-bit int mod HASH_PRIME, then
    the functions.MINHASH_A/B affine permutations) over hypothesis-
    generated shingle SETS.  Hashing through md5 matters: raw small
    integers would never wrap the modulus, the permutations would stay
    order-preserving, and the mins would correlate — hypothesis finds
    that counterexample immediately if the hash step is skipped."""
    import hashlib

    from kinesis_to_opensearch_lambda_spark.functions import (
        HASH_PRIME,
        MINHASH_A,
        MINHASH_B,
    )

    def h60(token: str) -> int:
        return int(hashlib.md5(token.encode()).hexdigest()[:15], 16) % HASH_PRIME

    toks = sorted(base)
    a = [h60(t) for t in toks]
    b = [h60(t) for t in toks[: max(1, int(len(toks) * (1.0 - drop)))]]
    inter = len(set(a) & set(b))
    union = len(set(a) | set(b))
    true_j = inter / union

    # The engine's own 12 permutations give sd <= 0.145 — too loose to
    # have power anywhere (|est - true_j| <= 0.51 can never fail when
    # both are in [0,1] and true_j ~ 0.5).  Average over 8 independent
    # permutation sets (the engine's MINHASH_A/B first, then 7
    # seed-derived sets): 96 permutations -> sd = sqrt(j(1-j)/96)
    # <= 0.051, so a 0.2 bound is ~4 sd — tight enough to catch a
    # broken estimator, loose enough not to flake.
    import random

    rng = random.Random(0xC0FFEE)
    perm_sets = [list(zip(MINHASH_A, MINHASH_B))]
    for _ in range(7):
        perm_sets.append(
            [
                (rng.randrange(1, HASH_PRIME), rng.randrange(HASH_PRIME))
                for _ in range(len(MINHASH_A))
            ]
        )
    collisions = 0
    k = sum(len(ps) for ps in perm_sets)
    for ps in perm_sets:
        for ai, bi in ps:
            ha = min((ai * h + bi) % HASH_PRIME for h in a)
            hb = min((ai * h + bi) % HASH_PRIME for h in b)
            collisions += ha == hb
    est = collisions / k
    assert abs(est - true_j) <= 0.2


# --- integer rank-arithmetic quartiles (anomaly_iqr_outliers) ----------
#
# The query computes linear-interpolated quartiles in quarter-units with
# pure integer math (position (n-1)*p, (4-f)*a + f*b).  Property: that
# formula equals numpy's 'linear' percentile exactly, for any integer
# multiset — i.e. the engine-exact integer form IS the textbook quartile,
# not an approximation of it.


def _quarter_quartile(vals: list[int], which: int) -> int:
    """Integer quarter-units quartile: which=1 -> p25, 3 -> p75."""
    s = sorted(vals)
    n = len(s)
    k = which * (n - 1)
    lo, f = divmod(k, 4)
    a = s[lo]
    b = s[min(lo + 1, n - 1)]
    return (4 - f) * a + f * b


@given(
    st.lists(st.integers(min_value=-10**9, max_value=10**9), min_size=1, max_size=300)
)
def test_rank_quartile_matches_numpy_linear(vals):
    import numpy as np

    for which, p in ((1, 25), (3, 75)):
        mine = _quarter_quartile(vals, which)
        ref = float(np.percentile(np.array(vals, dtype="float64"), p)) * 4
        assert abs(mine - ref) < 1e-6, (vals, which, mine, ref)


# --- bidirectional nearest as-of (join_asof_nearest) -------------------
#
# Property: the backward/forward carry + tie-break rule picks exactly the
# brute-force nearest-within-tolerance (backward on ties), for any event
# and order day sets.


def _nearest_pick(ev_day: int, order_days: list[int], tol: int):
    back = max((d for d in order_days if d <= ev_day), default=None)
    fwd = min((d for d in order_days if d >= ev_day), default=None)
    bg = ev_day - back if back is not None else None
    fg = fwd - ev_day if fwd is not None else None
    # the query's selection rule
    if bg is not None and bg <= tol and (fg is None or fg > tol or bg <= fg):
        return ("back", back, bg)
    if fg is not None and fg <= tol:
        return ("fwd", fwd, fg)
    return None


@given(
    st.integers(min_value=0, max_value=1000),
    st.lists(st.integers(min_value=-200, max_value=1200), max_size=30),
    st.integers(min_value=0, max_value=400),
)
def test_asof_nearest_rule_is_bruteforce_nearest(ev_day, order_days, tol):
    picked = _nearest_pick(ev_day, order_days, tol)
    in_tol = [d for d in order_days if abs(d - ev_day) <= tol]
    if not in_tol:
        assert picked is None
        return
    assert picked is not None
    direction, day, gap = picked
    best = min(abs(d - ev_day) for d in in_tol)
    assert gap == best
    # backward wins ties
    if any(ev_day - d == best for d in in_tol) and direction == "fwd":
        raise AssertionError(f"tie not resolved backward: {picked}")


# --- z-order interleave (maintenance_zorder_skipping) ------------------


def _interleave_py(x: int, y: int, bits: int = 10) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


@settings(deadline=None, max_examples=30)
@given(
    st.integers(min_value=0, max_value=1023),
    st.integers(min_value=0, max_value=1023),
    st.integers(min_value=0, max_value=1023),
    st.integers(min_value=0, max_value=1023),
)
def test_zorder_interleave_bijective_and_monotone(x1, y1, x2, y2):
    """The SQL interleave expression must (a) be injective over the
    10-bit grid (distinct cells -> distinct keys, so bucket boundaries
    are well-defined) and (b) agree with the reference bit-weave."""
    from kinesis_to_opensearch_lambda_spark.operators.maintenance_queries import (
        _sql_interleave,
    )
    import duckdb

    z1 = _interleave_py(x1, y1)
    z2 = _interleave_py(x2, y2)
    if (x1, y1) != (x2, y2):
        assert z1 != z2
    # SQL expression == python reference
    con = duckdb.connect()
    got = con.execute(
        f"SELECT {_sql_interleave(str(x1), str(y1))}"
    ).fetchone()[0]
    assert got == z1


@given(
    xs=st.lists(
        st.integers(min_value=-10_000, max_value=10_000), min_size=1, max_size=200
    ),
    k=st.integers(min_value=0, max_value=5_000),
)
@settings(max_examples=300, deadline=None)
def test_cusum_closed_form_equals_recursion(xs, k):
    """anomaly_cusum_drift rests on the identity
    S_t = max(0, S_{t-1} + (x_t - k))  ==  P_t - min_{0<=j<=t} P_j
    with P_0 = 0 (the empty prefix MUST participate in the min — the
    query encodes it as least(0, running_min)).  This test is what
    caught the original omission: without P_0, a series whose every
    prefix is positive (drift from the first observation) reports 0
    at t=1 instead of x_1 - k."""
    devs = [x - k for x in xs]
    s = 0
    rec = []
    for d in devs:
        s = max(0, s + d)
        rec.append(s)
    prefix = 0
    running_min_ne = None
    closed = []
    for d in devs:
        prefix += d
        running_min_ne = prefix if running_min_ne is None else min(running_min_ne, prefix)
        closed.append(prefix - min(0, running_min_ne))
    assert closed == rec


@given(
    a=st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=60),
    b=st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=60),
)
@settings(max_examples=300, deadline=None)
def test_ks_dictionary_form_equals_bruteforce_sup(a, b):
    """quality_ks_two_sample evaluates |ECDF_a - ECDF_b| only at the
    DISTINCT observed values (after collapsing ties): verify that this
    equals the true sup over all real thresholds, in the same integer
    ppm arithmetic as the query."""
    na, nb = len(a), len(b)
    values = sorted(set(a) | set(b))
    # query form: running counts over the distinct-value dictionary
    d_query = 0
    for v in values:
        ca = sum(1 for x in a if x <= v)
        cb = sum(1 for x in b if x <= v)
        d_query = max(d_query, abs(ca * nb - cb * na) * 1_000_000 // (na * nb))
    # brute force: sup over midpoints between consecutive values and
    # the extremes — ECDFs are step functions, constant between
    # observed values, so checking at observed values is sufficient;
    # verify by also probing midpoints (where ECDFs equal the value
    # just below) and beyond the max (both ECDFs = 1)
    probes = [values[0] - 1] + values + [
        (values[i] + values[i + 1]) / 2 for i in range(len(values) - 1)
    ] + [values[-1] + 1]
    d_true = 0
    for t in probes:
        ca = sum(1 for x in a if x <= t)
        cb = sum(1 for x in b if x <= t)
        d_true = max(d_true, abs(ca * nb - cb * na) * 1_000_000 // (na * nb))
    assert d_query == d_true


@given(
    xs=st.lists(
        st.integers(min_value=-10_000, max_value=10_000), min_size=1, max_size=200
    ),
    k=st.integers(min_value=0, max_value=5_000),
    cuts=st.lists(st.integers(min_value=0, max_value=199), max_size=12),
)
@settings(max_examples=300, deadline=None)
def test_blocked_cusum_equals_recursion(xs, k, cuts):
    """anomaly_cusum_drift_blocked rests on the prefix-scan
    decomposition: cut the series at ARBITRARY block boundaries, per
    block compute (local prefix lp, local running min lmin, block sum,
    block min), carry off_b = sum of earlier block sums and
    carry_b = min over earlier blocks of (off + bmin); then
        S_t = (off + lp_t) - min(0, carry_b, off + lmin_t)
    equals the direct recursion S_t = max(0, S_{t-1} + dev_t) for every
    row — regardless of where the cuts fall (the engine cuts on
    calendar days; correctness must not depend on that choice)."""
    devs = [x - k for x in xs]
    s = 0
    rec = []
    for d in devs:
        s = max(0, s + d)
        rec.append(s)

    bounds = sorted(set(c for c in cuts if 0 < c < len(devs)))
    blocks, lo = [], 0
    for c in [*bounds, len(devs)]:
        blocks.append(devs[lo:c])
        lo = c

    got, off, carry = [], 0, None
    for block in blocks:
        lp, lmin = 0, None
        for d in block:
            lp += d
            lmin = lp if lmin is None else min(lmin, lp)
            candidates = [0, off + lmin] + ([carry] if carry is not None else [])
            got.append((off + lp) - min(candidates))
        bmin_term = off + lmin
        carry = bmin_term if carry is None else min(carry, bmin_term)
        off += lp
    assert got == rec


@given(
    xs=st.lists(
        st.floats(
            min_value=-1e4, max_value=1e4, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=15,
    )
)
@settings(max_examples=300, deadline=None)
def test_ewma_dyadic_form_matches_pandas_adjust_true(xs):
    """window_ewma_finite claims its closed form — dot(l, 0.5^(L-i)) /
    (2 - 0.5^(L-1)) over the trailing-10 frame — IS pandas
    ewm(alpha=0.5, adjust=True).mean() restricted to that frame.  Both
    the Spark query and the DuckDB oracle encode the SAME closed form,
    so driver parity cannot catch the identity being wrong; pandas'
    independent recursion can.  (sum of weights 0.5^0..0.5^(L-1) is the
    geometric sum 2 - 0.5^(L-1) — this pins that algebra.)"""
    import pandas as pd

    frame = xs[-10:]
    L = len(frame)
    num = sum(v * 0.5 ** (L - i) for i, v in enumerate(frame, start=1))
    den = 2.0 - 0.5 ** (L - 1)
    expected = pd.Series(frame).ewm(alpha=0.5, adjust=True).mean().iloc[-1]
    assert abs(num / den - expected) <= 1e-9 * max(1.0, abs(expected))


@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),  # gap to next obs (s)
            st.integers(min_value=-10_000, max_value=10_000),  # cents
        ),
        min_size=2,
        max_size=30,
    )
)
@settings(max_examples=200, deadline=None)
def test_twa_segment_weighting_equals_per_second_integration(pts):
    """window_time_weighted_avg weights each observation by the integer
    seconds until the NEXT observation (LOCF), drops the open-ended
    tail and zero-length segments.  Verify sum(cents*dur) equals a
    brute-force per-second walk of the step function (the TimescaleDB
    time_weight('LOCF') definition), and the integer quotient is
    consistent."""
    ts, series = 0, []
    for gap, cents in pts:
        series.append((ts, cents))
        ts += gap
    # engine form: segment weighting
    segs = [
        (series[i][1], series[i + 1][0] - series[i][0])
        for i in range(len(series) - 1)
    ]
    segs = [(c, d) for c, d in segs if d > 0]
    weighted = sum(c * d for c, d in segs)
    total = sum(d for c, d in segs)
    # brute force: evaluate the LOCF step function at every second in
    # [t_0, t_last) — each second belongs to the most recent observation
    brute = 0
    obs_i = 0
    for t in range(series[0][0], series[-1][0]):
        while obs_i + 1 < len(series) and series[obs_i + 1][0] <= t:
            obs_i += 1
        brute += series[obs_i][1]
    assert weighted == brute
    assert total == series[-1][0] - series[0][0]
    if total > 0:
        assert weighted // total == brute // total


@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=0, max_value=100_000),
            st.integers(min_value=0, max_value=10_000),
        ),
        min_size=3,
        max_size=300,
    )
)
@settings(max_examples=300, deadline=None)
def test_corr_moment_form_matches_numpy(pts):
    """agg_corr_exact_moments encodes Pearson r as the SAME moment
    identity (n*Sxy - Sx*Sy) / (sqrt(n*Sxx - Sx^2) * sqrt(n*Syy - Sy^2))
    in the Spark expression AND the DuckDB oracle, so driver parity
    cannot detect the identity itself being wrong.  Pin it against
    numpy's independent two-pass corrcoef on arbitrary integer columns
    (the query's q/p/d are integer-unit by construction)."""
    import math

    import numpy as np

    cols = list(zip(*pts))
    for xi in range(3):
        for yi in range(xi + 1, 3):
            x, y = cols[xi], cols[yi]
            n = len(x)
            sx, sy = sum(x), sum(y)
            sxx = sum(v * v for v in x)
            syy = sum(v * v for v in y)
            sxy = sum(a * b for a, b in zip(x, y))
            den = math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
            if den == 0:  # constant column: r undefined; query data never is
                continue
            r_moment = (n * sxy - sx * sy) / den
            r_ref = float(np.corrcoef(np.array(x, dtype="float64"),
                                      np.array(y, dtype="float64"))[0, 1])
            assert abs(r_moment - r_ref) < 1e-9


@given(
    counts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),   # x category
            st.integers(min_value=0, max_value=9),   # y bucket
            st.integers(min_value=1, max_value=1000),  # cell count
        ),
        min_size=1,
        max_size=50,
    )
)
@settings(max_examples=300, deadline=None)
def test_mutual_information_cell_sum_matches_entropy_decomposition(counts):
    """agg_mutual_information sums per-cell (nxy/n)*log2(nxy*n/(nx*ny))
    terms — the same expression in both engines, so parity cannot catch
    a wrong identity.  Pin the cell-sum form against the independent
    decomposition I(X;Y) = H(X) + H(Y) - H(X,Y) on arbitrary
    contingency tables."""
    import math

    joint: dict[tuple[int, int], int] = {}
    for x, y, c in counts:
        joint[(x, y)] = joint.get((x, y), 0) + c
    n = sum(joint.values())
    nx: dict[int, int] = {}
    ny: dict[int, int] = {}
    for (x, y), c in joint.items():
        nx[x] = nx.get(x, 0) + c
        ny[y] = ny.get(y, 0) + c

    mi_cells = sum(
        (c / n) * math.log2(c * n / (nx[x] * ny[y]))
        for (x, y), c in joint.items()
    )

    def h(marg: dict) -> float:
        return -sum((c / n) * math.log2(c / n) for c in marg.values())

    mi_entropy = h(nx) + h(ny) - h(joint)
    assert abs(mi_cells - mi_entropy) < 1e-9


def test_poisson1_cutoff_table_matches_exact_cdf():
    """sample_poisson_bootstrap inverts Poisson(1) via the SAME
    precomputed 2^60-scaled cutoff table in the Spark expression and
    the DuckDB oracle — parity cannot catch the table itself being
    wrong.  Rebuild it independently: cut_k = floor(2^60 * P(X<=k))
    with P from e^-1/k! at 60-digit precision (the table's
    construction truncates; round-half-even would differ by exactly
    1 ulp on k=0 and k=4, which moves a weight only when a 60-bit
    hash lands on that single integer — probability 2^-60 per row)."""
    import math
    from decimal import Decimal, getcontext

    import kinesis_to_opensearch_lambda_spark.queries  # noqa: F401 — registry first
    from kinesis_to_opensearch_lambda_spark.operators.training_queries import (
        _POISSON1_CUTS_2POW60,
    )

    getcontext().prec = 60
    e_inv = Decimal(-1).exp()
    cum = Decimal(0)
    for k, cut in enumerate(_POISSON1_CUTS_2POW60):
        cum += e_inv / Decimal(math.factorial(k))
        assert cut == int(cum * (1 << 60)), f"k={k}"
    # and the tail mass assigned to the ELSE-5 arm is P(X>=5) ~ 0.37%
    tail = 1 - float(cum)
    assert abs(tail - (1 - sum(math.exp(-1) / math.factorial(j) for j in range(5)))) < 1e-12


@given(
    bins=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),  # n_a
            st.integers(min_value=0, max_value=10_000),  # n_b
        ),
        min_size=1,
        max_size=10,
    )
)
@settings(max_examples=300, deadline=None)
def test_psi_term_sum_equals_symmetric_kl(bins):
    """quality_psi_drift evaluates per-bin (p-q)*ln(p/q) — the same
    expression in both engines, so parity cannot catch the identity
    being wrong.  PSI is definitionally the SYMMETRIC KL divergence
    KL(p||q) + KL(q||p); verify the per-bin term sum equals that
    independent decomposition on arbitrary Laplace-smoothed count
    tables (the query's smoothing: (n+1)/(total+10))."""
    import math

    ta = sum(a for a, _ in bins)
    tb = sum(b for _, b in bins)
    p = [(a + 1) / (ta + 10) for a, _ in bins]
    q = [(b + 1) / (tb + 10) for _, b in bins]

    psi_terms = sum((pi - qi) * math.log(pi / qi) for pi, qi in zip(p, q))
    kl_pq = sum(pi * math.log(pi / qi) for pi, qi in zip(p, q))
    kl_qp = sum(qi * math.log(qi / pi) for pi, qi in zip(p, q))
    assert abs(psi_terms - (kl_pq + kl_qp)) < 1e-9


@given(
    pairs=st.sets(
        st.tuples(
            st.integers(min_value=0, max_value=5),  # user
            st.integers(min_value=0, max_value=5),  # item
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=200, deadline=None)
def test_integer_pagerank_tracks_exact_rational_recursion(pairs):
    """graph.pagerank keeps ranks in integer micro-units with truncating
    division — and the DuckDB oracle unrolls the IDENTICAL integer
    recursion, so parity cannot catch the micro-unit scheme drifting
    from the true random-walk fixed point.  Pin it: on hypothesis
    bipartite graphs (the engine's construction — user/item pairs
    unioned in both directions, so every node has an out-edge), run the
    integer recursion rank' = 150_000 + (85 * sum(rank // deg)) // 100
    and the EXACT rational recursion r' = 3/20 + (17/20) * sum(r / deg)
    side by side; after the engine's 5 rounds each node's micro-unit
    rank must sit within 1e-3 of the exact value (truncation loses
    <= in-degree + 1 units per round; 1e-3 is ~75x that with room for
    propagation, yet far below any rank difference of interest)."""
    from fractions import Fraction

    edges: list[tuple[str, str]] = []
    for u, i in pairs:
        edges.append((f"u{u}", f"i{i}"))
        edges.append((f"i{i}", f"u{u}"))
    nodes = sorted({s for s, _ in edges})
    deg = {n: sum(1 for s, _ in edges if s == n) for n in nodes}

    rank_i = {n: 1_000_000 for n in nodes}
    rank_f = {n: Fraction(1) for n in nodes}
    for _ in range(5):
        in_i = {n: 0 for n in nodes}
        in_f = {n: Fraction(0) for n in nodes}
        for s, d in edges:
            in_i[d] += rank_i[s] // deg[s]
            in_f[d] += rank_f[s] / deg[s]
        rank_i = {n: 150_000 + (85 * in_i[n]) // 100 for n in nodes}
        rank_f = {
            n: Fraction(3, 20) + Fraction(17, 20) * in_f[n] for n in nodes
        }
    for n in nodes:
        assert abs(rank_i[n] / 1_000_000 - float(rank_f[n])) < 1e-3, n


@given(
    gaps=st.lists(
        st.integers(min_value=0, max_value=4000),  # seconds between events
        min_size=0,
        max_size=100,
    )
)
@settings(max_examples=300, deadline=None)
def test_sessionization_flag_sum_matches_sequential_scan(gaps):
    """window_sessionization expresses 'new session after a >1800s gap'
    as lag + running sum of new-session flags — the SAME window form in
    the Spark builder (operators.relational.sessionize) and the DuckDB
    oracle, so parity cannot catch the expansion being wrong (the CUSUM
    lesson: the boundary term is where these break).  Pin it against
    the direct sequential scan that assigns session ids statefully."""
    ts = [0]
    for g in gaps:
        ts.append(ts[-1] + g)

    # closed form: flag rows whose gap to the previous row exceeds the
    # threshold (first row always flagged), session id = running sum
    flags = [
        1 if i == 0 or ts[i] - ts[i - 1] > 1800 else 0
        for i in range(len(ts))
    ]
    closed = []
    s = 0
    for f in flags:
        s += f
        closed.append(s)

    # independent stateful scan
    direct, sess, last = [], 0, None
    for t in ts:
        if last is None or t - last > 1800:
            sess += 1
        direct.append(sess)
        last = t
    assert closed == direct
    # n_sessions per the query's count(distinct session_id)
    assert len(set(closed)) == sess


@given(
    ids=st.sets(
        st.integers(min_value=0, max_value=500), min_size=1, max_size=120
    )
)
@settings(max_examples=300, deadline=None)
def test_gap_islands_row_number_trick_matches_direct_runs(ids):
    """window_gap_islands uses the classic id-minus-row_number
    constant-group trick in BOTH engines, so parity cannot catch the
    trick being wrong (it silently requires ids to be distinct within
    the partition, which the query guarantees by grouping on a unique
    key).  Pin it against a direct scan that splits the sorted id list
    into maximal runs of consecutive integers."""
    xs = sorted(ids)

    # closed form: group key = id - rank (1-based position)
    from collections import Counter

    grp = Counter(x - (i + 1) for i, x in enumerate(xs))
    closed_lens = sorted(grp.values())

    # independent direct scan
    runs, cur = [], 1
    for prev, nxt in zip(xs, xs[1:]):
        if nxt == prev + 1:
            cur += 1
        else:
            runs.append(cur)
            cur = 1
    runs.append(cur)
    assert closed_lens == sorted(runs)
    assert len(closed_lens) == len(runs)
    assert max(closed_lens) == max(runs)


def test_cms_width_derivation():
    """_cms_width is the error-contract -> width formula (W >=
    e/(eps_rel*phi), next power of two).  Pure math — no Spark: the
    guarantee argument is mass-free, so the property must hold for
    every contract, not just the default."""
    import math

    import kinesis_to_opensearch_lambda_spark.queries  # noqa: F401 - registry first
    from kinesis_to_opensearch_lambda_spark.operators.analytic_queries import (
        _CMS_W,
        _cms_width,
    )

    # default contract: 1%-of-mass hitters within 50% relative error
    assert _CMS_W == _cms_width() == 1024

    for eps in (0.1, 0.25, 0.5, 1.0):
        for phi in (0.001, 0.01, 0.05):
            w = _cms_width(eps, phi)
            # power of two, and the bound actually satisfied:
            # e/W <= eps*phi  (relative error at the phi threshold)
            assert w & (w - 1) == 0
            assert math.e / w <= eps * phi
            # ...but not over-provisioned by more than the pow2 round-up
            assert math.e / (w / 2) > eps * phi

    # tighter contract -> wider sketch, monotonically
    assert _cms_width(0.1, 0.01) >= _cms_width(0.5, 0.01)
    assert _cms_width(0.5, 0.001) >= _cms_width(0.5, 0.01)


# --- targeted delete rewrite (maintenance_targeted_delete) --------------


def test_rewrite_victim_days_touches_only_victim_partitions(spark, tmp_path):
    """r13: the one-job copy-on-write rewrite must (a) remove exactly
    the victim rows from the hit partitions, (b) leave non-hit
    partition FILES untouched on disk (same path, same mtime — the
    'untouched partitions are never rewritten' claim), and (c) drop a
    partition whose rows were all victims."""
    import os

    from pyspark.sql import functions as F

    from kinesis_to_opensearch_lambda_spark.operators.maintenance_queries import (
        _rewrite_victim_days,
    )

    root = str(tmp_path / "t")
    rows = [
        # day A: one victim (977 % 977 == 0) among keepers
        (977, "2024-01-01"), (1, "2024-01-01"), (2, "2024-01-01"),
        # day B: no victims — must not be rewritten
        (3, "2024-01-02"), (4, "2024-01-02"),
        # day C: all victims — partition must disappear
        (1954, "2024-01-03"),
    ]
    df = spark.createDataFrame(rows, "event_id bigint, day string")
    df.repartition("day").write.partitionBy("day").parquet(root)

    def snapshot(day):
        p = f"{root}/day={day}"
        if not os.path.isdir(p):
            return None
        return sorted(
            (f, os.path.getmtime(os.path.join(p, f)))
            for f in os.listdir(p)
            if f.startswith("part-")
        )

    b_before = snapshot("2024-01-02")
    _rewrite_victim_days(
        spark, root, ["2024-01-01", "2024-01-03"], str(tmp_path / "rw")
    )
    after = spark.read.parquet(root)
    got = sorted(
        (r["event_id"], str(r["day"])) for r in after.collect()
    )
    assert got == [(1, "2024-01-01"), (2, "2024-01-01"),
                   (3, "2024-01-02"), (4, "2024-01-02")]
    assert snapshot("2024-01-02") == b_before  # byte-untouched files
    assert snapshot("2024-01-03") is None  # all-victim partition dropped
