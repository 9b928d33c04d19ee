"""The benchmark's accounting rule for failed operations."""


def account(samples, verified, oracle_ok, oracle_keys):
    """Split timed samples into good latencies and failures.

    A sample fails when its op raised, when its output digest differs
    from the verified digest, or when a query its op consumes failed the
    oracle. A failed sample never contributes a time.
    Returns (attempted, failed, latencies of the good samples)."""
    good = []
    failed = 0
    for s in samples:
        keys = oracle_keys(s["name"])
        ok = (s["error"] is None
              and s["digest"] is not None
              and s["digest"] == verified.get(s["name"])
              and all(oracle_ok.get(k, False) for k in keys))
        if ok:
            good.append(s["latency_s"])
        else:
            failed += 1
    return len(samples), failed, good
