"""Port of the reference's 7-test suite (reference tests/test_clv_logic.py,
fixtures per FIXTURES.md) to Spark DataFrames, plus model-math checks the
reference lacks (SURVEY.md §5 gaps)."""

from __future__ import annotations

import numpy as np
import pytest

from clv_data_pipeline_spark.operators.clv import (
    BetaGeoParams,
    GammaGammaParams,
    expected_avg_value_col,
    expected_purchases_np,
    fit_bgnbd,
    fit_gamma_gamma,
    run_clv_logic,
    score_customers,
)
from clv_data_pipeline_spark.operators.quality import apply_data_quality_fixes
from clv_data_pipeline_spark.operators.validate import run_validation_checks

MODEL_COLS = [
    "customer_id",
    "recency",
    "t",
    "frequency",
    "monetary",
    "first_purchase",
    "last_purchase",
]


def _happy_features(spark):
    # fixture values from reference tests/test_clv_logic.py:21-29
    rows = [
        (1, 100, 150, 2, 50.0, "2025-01-01", "2025-03-01"),
        (2, 110, 160, 3, 60.0, "2025-01-02", "2025-03-02"),
        (3, 120, 170, 4, 70.0, "2025-01-03", "2025-03-03"),
    ]
    df = spark.createDataFrame(rows, MODEL_COLS)
    from pyspark.sql import functions as F

    return df.withColumn("first_purchase", F.to_timestamp("first_purchase")) \
             .withColumn("last_purchase", F.to_timestamp("last_purchase"))


def test_clv_happy_path(spark):
    out = run_clv_logic(_happy_features(spark))
    pdf = out.toPandas()
    assert len(pdf) > 0
    assert "clv" in pdf.columns
    assert (pdf["clv"] >= 0).all()


def test_missing_column_error(spark):
    df = _happy_features(spark).drop("monetary")
    with pytest.raises(ValueError, match="Bad Schema"):
        run_clv_logic(df)


def test_negative_clv_clipping_authentic(spark):
    # fixture per reference tests/test_clv_logic.py:66-69
    df = spark.createDataFrame(
        [(1, -100.0), (2, 2_000_000.0)], ["customer_id", "clv"]
    )
    out = apply_data_quality_fixes(df).toPandas().set_index("customer_id")
    assert out.loc[1, "clv"] == 0.0
    assert out.loc[1, "negatif_clv_flag"] == 1
    assert out.loc[2, "outliners_flag"] == 1
    assert out.loc[2, "clv"] == 2_000_000.0


def test_empty_df_as_input(spark):
    """The empty guard comes first whatever the schema: with the model
    schema it reads the fit's own collect, otherwise isEmpty() runs
    ahead of the schema error."""
    import pyspark.sql.types as T

    df = spark.createDataFrame([], T.StructType([]))
    empty = _happy_features(spark).limit(0)
    for frame in (df, empty, empty.drop("monetary")):
        with pytest.raises(ValueError, match="Dataframe is empty"):
            run_clv_logic(frame)


def test_validation_fails_on_data_loss():
    with pytest.raises(ValueError, match="DATA LOSS"):
        run_validation_checks(100, 80, 0, MODEL_COLS)


def test_validation_fails_on_negative_values():
    cols = [
        "customer_id", "recency", "T", "frequency",
        "monetary_value", "first_purchase", "last_purchase",
    ]
    with pytest.raises(ValueError, match="SANITY ERROR"):
        run_validation_checks(100, 100, 5, cols)


def test_validation_fails_missing_columns():
    cols = ["customer_id", "recency", "T", "monetary_value",
            "first_purchase", "last_purchase"]
    with pytest.raises(ValueError, match="SCHEMA ERROR"):
        run_validation_checks(100, 100, 0, cols)


# --- beyond the reference: numeric correctness of the model math ---------


def test_gamma_gamma_closed_form(spark):
    # hand-computed: p=6, q=4, v=15, x=4, m=35
    # weight = 24/27; population mean = 90/3 = 30
    # E = (1 - 24/27)*30 + (24/27)*35 = 10/3 + 280/9 = 310/9
    gg = GammaGammaParams(p=6.0, q=4.0, v=15.0)
    df = spark.createDataFrame([(4.0, 35.0)], ["frequency", "monetary"])
    got = df.select(expected_avg_value_col(gg).alias("e")).first()["e"]
    assert abs(got - 310.0 / 9.0) < 1e-12


def test_bgnbd_expected_purchases_properties():
    params = BetaGeoParams(r=0.24, alpha=4.41, a=0.79, b=2.43)
    x = np.array([0.0, 1.0, 5.0, 20.0])
    t_x = np.array([0.0, 10.0, 30.0, 38.0])
    T = np.array([40.0, 40.0, 40.0, 40.0])
    e30 = expected_purchases_np(params, 30.0, x, t_x, T)
    e365 = expected_purchases_np(params, 365.0, x, t_x, T)
    assert (e30 >= 0).all()
    assert (e365 >= e30).all()  # longer horizon, more expected purchases
    # recent heavy buyer should out-predict a one-timer
    assert e30[3] > e30[1]


def test_fit_recovers_simulated_bgnbd(spark):
    """Fit on data simulated from known BG/NBD params; fitted params must
    reproduce the data's expected behavior (penalized fit biases the raw
    params, so compare model outputs, not raw params)."""
    rng = np.random.default_rng(7)
    r, alpha, a, b = 0.8, 6.0, 0.6, 2.5
    rows = []
    for i in range(800):
        lam = rng.gamma(r, 1 / alpha)
        p_drop = rng.beta(a, b)
        T = 90.0
        t, x, t_x = 0.0, 0, 0.0
        while True:
            gap = rng.exponential(1 / lam) if lam > 0 else np.inf
            t += gap
            if t > T:
                break
            x += 1
            t_x = t
            if rng.random() < p_drop:
                break
        rows.append((i, float(round(t_x)), T, x, 50.0))
    df = spark.createDataFrame(
        rows, ["customer_id", "recency", "t", "frequency", "monetary"]
    )
    returning = df.filter("frequency > 0 and monetary > 0")
    fitted = fit_bgnbd(returning)
    assert 0 < fitted.r < 10 and 0 < fitted.alpha < 100
    assert 0 < fitted.a < 10 and 0 < fitted.b < 50

    gg_in = spark.createDataFrame(
        [(i, float(x), 40.0 + 3.0 * (i % 7)) for i, x in enumerate(range(1, 60))],
        ["customer_id", "frequency", "monetary"],
    )
    gg = fit_gamma_gamma(gg_in)
    assert gg.p > 0 and gg.q > 0 and gg.v > 0


def test_score_customers_end_to_end(spark):
    bg = BetaGeoParams(r=0.24, alpha=4.41, a=0.79, b=2.43)
    gg = GammaGammaParams(p=6.0, q=4.0, v=15.0)
    df = spark.createDataFrame(
        [(1, 10.0, 40.0, 3.0, 55.0), (2, 0.0, 40.0, 0.0, 0.0)],
        ["customer_id", "recency", "t", "frequency", "monetary"],
    )
    out = score_customers(df, bg, gg).toPandas().set_index("customer_id")
    assert out.loc[1, "predicted_purchases"] > 0
    assert out.loc[1, "clv"] >= 0
    # pandas-UDF path must agree with the numpy core
    e = expected_purchases_np(
        bg, 30.0, np.array([3.0]), np.array([10.0]), np.array([40.0])
    )[0]
    assert abs(out.loc[1, "predicted_purchases"] - e) < 1e-9


def test_pareto_nbd_parameter_recovery(spark):
    """Fit the Pareto/NBD MLE on data SIMULATED from the model with
    known parameters (CDNOW-scale values): the fitted likelihood must
    beat the true-parameter likelihood on the sample (MLE property),
    and the identifiable rate means (purchase r/alpha, dropout s/beta)
    must recover within tolerance — the strongest self-contained check
    an own-derivation likelihood can get without an external library."""
    import numpy as np

    from clv_data_pipeline_spark.operators.clv import (
        ParetoNBDParams,
        _pnbd_nll,
        fit_pareto_nbd,
        pnbd_prob_alive_np,
    )

    rng = np.random.RandomState(42)
    r, alpha, s, beta = 0.55, 10.6, 0.61, 11.7
    n = 4000
    lam = rng.gamma(r, 1.0 / alpha, size=n)
    mu = rng.gamma(s, 1.0 / beta, size=n)
    tau = rng.exponential(1.0 / mu)
    T = rng.uniform(25.0, 40.0, size=n)
    active = np.minimum(tau, T)
    x = rng.poisson(lam * active)
    # t_x = time of last purchase: max of x uniforms on [0, active]
    u_max = rng.beta(np.maximum(x, 1), 1.0)  # max of k uniforms ~ Beta(k,1)
    t_x = np.where(x > 0, u_max * active, 0.0)

    rows = [
        (float(x[i]), float(t_x[i]), float(T[i])) for i in range(n)
    ]
    feats = spark.createDataFrame(
        rows, "frequency double, recency double, t double"
    )
    p = fit_pareto_nbd(feats, penalizer=0.0)

    # MLE beats the true parameters on the sample
    w = np.ones_like(x, dtype=np.float64)
    nll_fit = _pnbd_nll(
        np.log([p.r, p.alpha, p.s, p.beta]), x.astype(float), t_x, T, w, 0.0
    )
    nll_true = _pnbd_nll(
        np.log([r, alpha, s, beta]), x.astype(float), t_x, T, w, 0.0
    )
    assert nll_fit <= nll_true + 1e-6, (nll_fit, nll_true)

    # identifiable rate means recover
    assert abs((p.r / p.alpha) - (r / alpha)) / (r / alpha) < 0.15, p
    assert abs((p.s / p.beta) - (s / beta)) / (s / beta) < 0.35, p

    # P(alive) sanity: a long-silent heavy buyer is deader than a
    # just-active one; bounds hold
    pa = pnbd_prob_alive_np(
        p, np.array([8.0, 8.0]), np.array([10.0, 29.0]), np.array([30.0, 30.0])
    )
    assert 0.0 <= pa[0] < pa[1] <= 1.0, pa


def test_pareto_nbd_expected_purchases_monotone(spark):
    """Conditional expected purchases grow with horizon and with past
    frequency; the s->1 limit branch agrees with s near 1."""
    import numpy as np

    from clv_data_pipeline_spark.operators.clv import (
        ParetoNBDParams,
        pnbd_expected_purchases_np,
    )

    p = ParetoNBDParams(0.55, 10.6, 0.61, 11.7)
    x = np.array([0.0, 2.0, 8.0])
    t_x = np.array([0.0, 20.0, 28.0])
    T = np.array([30.0, 30.0, 30.0])
    e13 = pnbd_expected_purchases_np(p, 13.0, x, t_x, T)
    e26 = pnbd_expected_purchases_np(p, 26.0, x, t_x, T)
    assert np.all(e13 >= 0) and np.all(e26 > e13)
    assert e13[2] > e13[1] > e13[0]
    p1a = ParetoNBDParams(0.55, 10.6, 1.0 - 5e-7, 11.7)
    p1b = ParetoNBDParams(0.55, 10.6, 1.001, 11.7)
    a = pnbd_expected_purchases_np(p1a, 13.0, x, t_x, T)
    b = pnbd_expected_purchases_np(p1b, 13.0, x, t_x, T)
    assert np.allclose(a, b, rtol=2e-2), (a, b)


# --- single-collect fit path ----------------------------------------------


def _per_term_bgnbd_nll(log_params, x, t_x, T, w, penalizer):
    """The BG/NBD NLL with one lgamma call per term."""
    from clv_data_pipeline_spark.functions.special import lgamma

    r, alpha, a, b = np.exp(log_params)
    a1 = lgamma(r + x) - lgamma(np.array(r)) + r * np.log(alpha)
    a2 = (
        lgamma(np.array(a + b))
        + lgamma(b + x)
        - lgamma(np.array(b))
        - lgamma(a + b + x)
    )
    a3 = -(r + x) * np.log(alpha + T)
    with np.errstate(divide="ignore", invalid="ignore"):
        a4 = np.where(
            x > 0,
            np.log(a) - np.log(b + np.maximum(x, 1) - 1) - (r + x) * np.log(t_x + alpha),
            -np.inf,
        )
    ll = a1 + a2 + np.logaddexp(a3, a4)
    penalty = penalizer * float(np.sum(np.exp(log_params) ** 2))
    return -float(np.sum(w * ll)) / float(np.sum(w)) + penalty


def _per_term_gg_nll(log_params, x, m, w, penalizer):
    """The Gamma-Gamma NLL with one lgamma call per term."""
    from clv_data_pipeline_spark.functions.special import lgamma

    p, q, v = np.exp(log_params)
    ll = (
        lgamma(p * x + q)
        - lgamma(p * x)
        - lgamma(np.array(q))
        + q * np.log(v)
        + (p * x - 1) * np.log(m)
        + (p * x) * np.log(x)
        - (p * x + q) * np.log(v + m * x)
    )
    penalty = penalizer * float(np.sum(np.exp(log_params) ** 2))
    return -float(np.sum(w * ll)) / float(np.sum(w)) + penalty


def test_nll_single_lgamma_call_is_bit_identical():
    """lgamma is elementwise, so one call over the concatenated
    arguments must give exactly the per-term formulation's NLL."""
    from clv_data_pipeline_spark.operators.clv import _bgnbd_nll, _gg_nll

    rng = np.random.default_rng(11)
    n = 257
    x = rng.integers(0, 40, n).astype(np.float64)
    t_x = np.where(x > 0, rng.integers(0, 60, n), 0).astype(np.float64)
    T = t_x + rng.integers(0, 60, n)
    w = rng.integers(1, 50, n).astype(np.float64)
    xg = x + 1.0
    m = np.round(rng.uniform(0.5, 400.0, n), 2)
    for lp in rng.uniform(-4.0, 4.0, size=(200, 4)):
        assert _bgnbd_nll(lp, x, t_x, T, w, 0.1) == _per_term_bgnbd_nll(
            lp, x, t_x, T, w, 0.1
        )
    for lp in rng.uniform(-4.0, 4.0, size=(200, 3)):
        assert _gg_nll(lp, xg, m, w, 0.1) == _per_term_gg_nll(lp, xg, m, w, 0.1)


def test_all_non_returning_customers_refuse_the_fit(spark):
    from pyspark.sql import functions as F

    one_timers = _happy_features(spark).withColumn("frequency", F.lit(0).cast("long"))
    with pytest.raises(ValueError, match="No customers to fit BG/NBD on"):
        run_clv_logic(one_timers)


def test_fit_is_independent_of_partitioning(spark, monkeypatch):
    """The collected sufficient statistics are sorted by key before
    Nelder-Mead, so the fitted params are identical whatever order the
    grouped rows arrive in."""
    from pyspark.sql import functions as F

    from clv_data_pipeline_spark.operators import clv

    rng = np.random.default_rng(5)
    n = 3000
    freq = rng.integers(0, 25, n)
    rec = np.where(freq > 0, rng.integers(1, 200, n), 0)
    rows = [
        (i, int(rec[i]), int(rec[i] + rng.integers(0, 100)), int(freq[i]),
         float(np.round(rng.uniform(1.0, 300.0), 2)))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, MODEL_COLS[:5]).select(
        "*",
        F.lit(None).cast("timestamp").alias("first_purchase"),
        F.lit(None).cast("timestamp").alias("last_purchase"),
    )

    fitted = []
    orig = clv.nelder_mead

    def recording(f, x0, *a, **k):
        best, fbest = orig(f, x0, *a, **k)
        fitted.append(best.tolist())
        return best, fbest

    monkeypatch.setattr(clv, "nelder_mead", recording)
    run_clv_logic(df.repartition(1))
    one = fitted[:]
    fitted.clear()
    run_clv_logic(df.repartition(5))
    assert len(one) == 2
    assert fitted == one
