"""Pure-numpy numeric kernels with reference (ec-jrc/nrt) parity.

Every function here is a pure function over numpy arrays — no Spark, no
pandas state — so the same code is used (a) inside Arrow-batched grouped
UDFs on executors and (b) in the single-process oracle used by the test
suite.  Exact op order follows the reference where numeric parity is
asserted by golden tests.  No operation's result for a series depends on
the batch width, so a hash bucket of any size gives the oracle's bits.
"""

from nrt_spark.kernels.regressors import build_regressors, decimal_years
from nrt_spark.kernels.stats import (
    nanlstsq,
    mad,
    bisquare,
    erfcc,
    ncdf,
)
from nrt_spark.kernels.fit import (
    ols,
    weighted_ols,
    rirls,
    ccdc_stable_fit,
    roc_stable_fit,
)
from nrt_spark.kernels.outliers import shewhart_screen, ccdc_rirls_screen
from nrt_spark.kernels.efp import (
    history_roc,
    cusum_rec_efp,
    cusum_rec_sctest,
    brownian_motion_pvalue,
    cusum_rec_boundary,
    cusum_rec_test_crit,
    cusum_ols_test_crit,
    mosum_ols_test_crit,
    recresid,
    mosum_init_window,
)

__all__ = [
    "build_regressors",
    "decimal_years",
    "nanlstsq",
    "mad",
    "bisquare",
    "erfcc",
    "ncdf",
    "ols",
    "weighted_ols",
    "rirls",
    "ccdc_stable_fit",
    "roc_stable_fit",
    "shewhart_screen",
    "ccdc_rirls_screen",
    "history_roc",
    "cusum_rec_efp",
    "cusum_rec_sctest",
    "brownian_motion_pvalue",
    "cusum_rec_boundary",
    "cusum_rec_test_crit",
    "cusum_ols_test_crit",
    "mosum_ols_test_crit",
    "recresid",
    "mosum_init_window",
]
