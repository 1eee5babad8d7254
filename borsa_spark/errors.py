"""Error taxonomy mirroring the reference's BorsaError semantics.

Reference: borsa-types/src/error.rs (error kinds + retry classification),
borsa/src/router/util.rs:30-60 (collapse rules). We keep the same taxonomy so
router-level collapse/fallback behavior is testable against the reference's
scenario suite.
"""

from __future__ import annotations

from enum import Enum


class RetryClass(Enum):
    PERMANENT = "permanent"
    TRANSIENT = "transient"
    UNKNOWN = "unknown"


class BorsaSparkError(Exception):
    """Base error. `connector` carries blame attribution when known."""

    retry_class = RetryClass.UNKNOWN

    def __init__(self, message: str = "", connector: str | None = None):
        self.message = message
        self.connector = connector
        super().__init__(f"[{connector}] {message}" if connector else message)


class NotFoundError(BorsaSparkError):
    """Requested entity not found (triggers fallback, not failure)."""

    retry_class = RetryClass.PERMANENT


class UnsupportedError(BorsaSparkError):
    """Capability / interval / kind not supported by any eligible provider."""

    retry_class = RetryClass.PERMANENT


class DataError(BorsaSparkError):
    """Malformed / inconsistent data from a provider."""

    retry_class = RetryClass.PERMANENT


class CurrencyError(DataError):
    """Mixed currencies within a candle, bucket, or merged series.

    Reference: merge.rs:55-68, resample.rs:131-168 abort on the first
    inconsistency; history.rs:223-274 identifies the faulty provider.
    """


class ProviderTimeout(BorsaSparkError):
    retry_class = RetryClass.TRANSIENT


class RequestTimeout(BorsaSparkError):
    retry_class = RetryClass.TRANSIENT


class ProviderError(BorsaSparkError):
    """Provider-side failure (5xx, malformed payload, API error envelope) —
    transient: the router's retry/fallback layers may try again or move on
    (error.rs provider-failure kinds)."""

    retry_class = RetryClass.TRANSIENT


class RateLimited(BorsaSparkError):
    retry_class = RetryClass.TRANSIENT


class QuotaExceeded(BorsaSparkError):
    """Raised by the quota middleware; carries remaining/reset info."""

    retry_class = RetryClass.TRANSIENT

    def __init__(self, message: str = "", connector: str | None = None,
                 remaining: int = 0, reset_in_s: float | None = None):
        super().__init__(message, connector)
        self.remaining = remaining
        self.reset_in_s = reset_in_s


class TemporarilyBlacklisted(BorsaSparkError):
    retry_class = RetryClass.TRANSIENT


class AllProvidersFailed(BorsaSparkError):
    """Every eligible provider errored; wraps the per-provider errors."""

    def __init__(self, errors: list[BorsaSparkError]):
        self.errors = errors
        super().__init__(f"all providers failed: {[str(e) for e in errors]}")


class AllProvidersTimedOut(BorsaSparkError):
    retry_class = RetryClass.TRANSIENT


def flatten(err: BorsaSparkError) -> list[BorsaSparkError]:
    """Unwrap nested AllProvidersFailed aggregates into a flat list
    (error.rs:168-178)."""
    if isinstance(err, AllProvidersFailed):
        out: list[BorsaSparkError] = []
        for e in err.errors:
            out.extend(flatten(e))
        return out
    return [err]


def is_actionable(err: BorsaSparkError) -> bool:
    """Whether an error should surface to users as actionable
    (error.rs:155-166): capability absence and benign not-founds are not;
    aggregates classify by their contents."""
    if isinstance(err, (UnsupportedError, NotFoundError)):
        return False
    if isinstance(err, AllProvidersFailed):
        return any(is_actionable(e) for e in err.errors)
    return True


def collapse_errors(attempted: int, errors: list[BorsaSparkError],
                    capability: str,
                    not_found_what: str | None = None) -> BorsaSparkError:
    """Collapse per-provider errors into one actionable error.

    Rules (reference borsa/src/router/util.rs:30-60):
    - nothing attempted -> Unsupported
    - every error is a ProviderTimeout -> AllProvidersTimedOut (even a
      lone timeout, util.rs:40-48)
    - ``not_found_what`` given and every error is a NotFound ->
      NotFound(what) (util.rs:49-56)
    - exactly one error -> itself
    - otherwise -> AllProvidersFailed
    """
    if attempted == 0 or not errors:
        return UnsupportedError(capability)
    if len(errors) == attempted and all(
        isinstance(e, ProviderTimeout) for e in errors
    ):
        return AllProvidersTimedOut(capability)
    if not_found_what is not None and all(
        isinstance(e, NotFoundError) for e in errors
    ):
        return NotFoundError(not_found_what)
    if len(errors) == 1:
        return errors[0]
    return AllProvidersFailed(errors)
