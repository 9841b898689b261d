"""Engine-agnostic SQL scalar expressions shared by Spark and the DuckDB oracle.

The driver's correctness gate runs each Spark query side-by-side with an
ANSI-SQL oracle in DuckDB (see ``__spark_entry__.py``). Anything random in
the reference (per-series frequencies/phases/amplitudes, per-point Gaussian
noise — /root/reference/utils/data_generators.py:60-101) must therefore be a
*pure deterministic function of (series_id, t, salt)* computable identically
in both engines. We use integer LCG rounds mod 2^31 (all intermediates fit in
int64, no overflow in either engine) to build uniforms, and Box–Muller for
normals. The SAME SQL text is used by Spark (``F.expr``) and DuckDB, so the
semantics match by construction; only libm last-ulp differences remain, which
the final ``round(x, 6)`` absorbs.

Only functions present in BOTH dialects with identical semantics are used:
sin cos exp ln sqrt pow floor round abs least greatest % on BIGINT.
(Avoid: log — natural log in Spark, log10 in DuckDB; hash/xxhash64 — engine
specific.)
"""
from __future__ import annotations

PI = 3.141592653589793
TWO_PI = 6.283185307179586
M31 = 2147483648  # 2^31
LCG_A = 1103515245
LCG_C = 12345


def NUM(x: float) -> str:
    """Float literal that parses as DOUBLE in BOTH engines.

    DuckDB parses plain decimal literals (`2.0`, `2147483648.0`) as DECIMAL
    and does decimal arithmetic on them (precision loss vs Spark's DOUBLE);
    E-notation forces DOUBLE in both dialects. %.17e round-trips exactly.
    """
    return f"{float(x):.17e}"


def lcg3(key: str, salt: int) -> str:
    """Mixing rounds of ``key`` (a SQL int expr) → int in [0, 2^31).

    key must be non-negative and < 2^31 (callers mod it down). Every
    intermediate product is < 2^62, safe in BIGINT in both engines.

    The two SQUARING rounds are load-bearing: a chain of purely affine LCG
    steps stays affine in the key, so two streams differing only by salt are
    perfectly lattice-correlated — Box–Muller normals came out with mean
    ≈ −0.11. The quadratic rounds break affinity; measured over 50k
    sequential keys: z mean 6e-4, std 1.002, corr(u1,u2) ≈ 1e-4
    (tests/test_properties.py).
    """
    h = f"((({key}) * {LCG_A} + {LCG_C + salt}) % {M31})"
    h = f"(({h} * {h} + {LCG_A}) % {M31})"
    h = f"(({h} * {LCG_A} + {LCG_C}) % {M31})"
    h = f"(({h} * {h} + {LCG_C}) % {M31})"
    return h


def u01(key: str, salt: int) -> str:
    """Deterministic uniform in [0, 1) as a SQL double expr."""
    return f"({lcg3(key, salt)} / {NUM(M31)})"


def uniform(key: str, salt: int, lo: float, hi: float) -> str:
    """Deterministic U(lo, hi) — reference draws e.g. freq ~ U(2,4) at
    utils/data_generators.py:60-63."""
    return f"({NUM(lo)} + {NUM(hi - lo)} * {u01(key, salt)})"


def normal(key: str, salt: int) -> str:
    """Deterministic standard normal via Box–Muller.

    z = sqrt(-2 ln(1-u1)) * cos(2π u2); 1-u1 ∈ (0,1] so ln is finite.
    Replaces torch.randn (utils/data_generators.py:100).
    """
    u1 = u01(key, salt)
    u2 = u01(key, salt + 7919)
    return f"(sqrt(-2.0e0 * ln(1.0e0 - {u1})) * cos({NUM(TWO_PI)} * {u2}))"


def pt_key(sid: str = "series_id", t: str = "t") -> str:
    """Combine (series_id, t) into one non-negative key < 2^31."""
    return f"((({sid}) * 131071 + ({t})) % {M31})"


def time_grid(t: str, seq_len: int) -> str:
    """Physical time: linspace(0, 4π, seq_len) — utils/data_generators.py:55."""
    step = 4.0 * PI / (seq_len - 1)
    return f"(({t}) * {NUM(step)})"


# --- per-series random parameters (salts are part of the engine contract) ---
SALT_FREQ1 = 1
SALT_FREQ2 = 2
SALT_PHASE1 = 3
SALT_PHASE2 = 4
SALT_AMP1 = 5
SALT_AMP2 = 6
SALT_AMP3 = 7
SALT_RAMP_START = 8
SALT_RAMP_END = 9
SALT_NOISE_LEVEL = 10
SALT_NOISE = 100
SALT_LABEL = 20


def series_params(sid: str = "series_id") -> dict[str, str]:
    """SQL exprs for the once-per-series draws of the reference generator
    (utils/data_generators.py:60-63,73-74,83-88,99)."""
    return {
        "freq1": uniform(sid, SALT_FREQ1, 2.0, 4.0),
        "freq2": uniform(sid, SALT_FREQ2, 2.0, 4.0),
        "phase1": uniform(sid, SALT_PHASE1, 0.0, TWO_PI),
        "phase2": uniform(sid, SALT_PHASE2, 0.0, TWO_PI),
        "amp1": uniform(sid, SALT_AMP1, 0.3, 0.7),
        "amp2": uniform(sid, SALT_AMP2, 0.3, 0.7),
        "ls_a1": uniform(sid, SALT_AMP1, 0.2, 0.8),
        "ls_a2": uniform(sid, SALT_AMP2, 0.2, 0.8),
        "ls_a3": uniform(sid, SALT_AMP3, 0.2, 0.8),
        "ramp_start": uniform(sid, SALT_RAMP_START, 0.5, 1.0),
        "ramp_end": uniform(sid, SALT_RAMP_END, -1.0, 0.0),
        "noise_level": uniform(sid, SALT_NOISE_LEVEL, 0.05, 0.15),
    }


# create_labeled_dataset's classes; label = index into this tuple
LABEL_FAMILIES = ("sine", "cosine", "mixed", "exponential_decay")
FAMILIES = (*LABEL_FAMILIES, "linear_sum", "custom_decay")


def signal_expr(
    family: str,
    seq_len: int,
    sid: str = "series_id",
    t: str = "t",
    lambda_decay: float = 0.5,
) -> str:
    """Clean (pre-noise) signal for one family as a SQL double expr.

    Formula-for-formula from /root/reference/utils/data_generators.py:65-96;
    the random per-series parameters come from :func:`series_params`.
    """
    p = series_params(sid)
    tv = time_grid(t, seq_len)
    if family == "sine":
        return f"sin({p['freq1']} * {tv} + {p['phase1']})"
    if family == "cosine":
        return f"cos({p['freq1']} * {tv} + {p['phase1']})"
    if family == "mixed":
        return (
            f"({p['amp1']} * sin({p['freq1']} * {tv} + {p['phase1']})"
            f" + {p['amp2']} * cos({p['freq2']} * {tv} + {p['phase2']}))"
        )
    if family == "exponential_decay":
        decay = f"exp(-({NUM(lambda_decay)}) * {tv} / {NUM(4.0 * PI)})"
        return f"({decay} * sin({p['freq1']} * {tv} + {p['phase1']}))"
    if family == "linear_sum":
        ramp = (
            f"({p['ramp_start']} + ({p['ramp_end']} - {p['ramp_start']})"
            f" * (CAST({t} AS DOUBLE) / {NUM(seq_len - 1)}))"
        )
        return (
            f"({p['ls_a1']} * {ramp}"
            f" + {p['ls_a2']} * sin({NUM(TWO_PI)} * {tv} + {p['phase1']})"
            f" + {p['ls_a3']} * cos({NUM(2.0 * TWO_PI)} * {tv} + {p['phase2']}))"
        )
    if family == "custom_decay":
        decay = f"(1.0e0 / (1.0e0 + {NUM(lambda_decay)} * {tv}))"
        return (
            f"({decay} * (sin({p['freq1']} * {tv} + {p['phase1']})"
            f" + 3.0e-1 * cos({p['freq2']} * {tv} + {p['phase2']})))"
        )
    raise ValueError(f"unknown family: {family}")


def noisy_signal_expr(family: str, seq_len: int, **kw) -> str:
    """signal + noise_level * N(0,1) — utils/data_generators.py:98-101."""
    sid = kw.get("sid", "series_id")
    t = kw.get("t", "t")
    base = signal_expr(family, seq_len, **kw)
    nl = series_params(sid)["noise_level"]
    return f"({base} + {nl} * {normal(pt_key(sid, t), SALT_NOISE)})"


def round6(x: str) -> str:
    """Round to 6 dp and normalize -0.0 → 0.0 so value-hashes agree across
    engines despite last-ulp libm differences.

    The +1e-9 nudge kills decimal ties: Spark rounds doubles via their
    SHORTEST DECIMAL representation (51.51125 → HALF_UP → .5113) while
    DuckDB rounds numerically (the same double is < the .5 midpoint →
    .5112). Real-world 2-decimal inputs produce such exact ties constantly
    under division; the nudge pushes both engines decisively off the
    midpoint in the same direction."""
    return roundn(x, 6)


def roundn(x: str, dp: int) -> str:
    """round6 at an arbitrary precision — use dp ≤ 4 for averages/ratios of
    large sums, where cross-engine fp association differences exceed the
    6dp quantum (the ev_props_json lesson)."""
    return f"(round(({x}) + 1.0e-9, {dp}) + 0.0e0)"
