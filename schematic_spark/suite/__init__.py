from .drift import (  # noqa: F401
    DriftReport,
    chi2_drift,
    chi2_drift_split,
    chi2_sf,
    chi_square_from_counts,
    ks_drift,
    ks_drift_split,
    ks_from_histograms,
    numeric_histogram,
    psi_drift,
    psi_drift_split,
    psi_from_counts,
)
from .fused import FusedSuiteReport, run_fused_suite  # noqa: F401
from .referential import dangling_rows, referential_report  # noqa: F401
from .sessions import funnel_stages, session_stats, sessionize  # noqa: F401
from .stats import column_stats, length_histogram  # noqa: F401
from .uniqueness import (  # noqa: F401
    duplicate_keys,
    duplicate_keys_salted,
    uniqueness_report,
)
