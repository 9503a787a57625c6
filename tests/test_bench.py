"""bench.py stdout-verdict helpers."""

from bench import _fit_verdict


def test_fit_verdict_from_regressed_list():
    assert _fit_verdict([]) == 'ok'
    assert _fit_verdict(['q1']) == 'REGRESSED(1): q1'
    assert _fit_verdict(['q1', 'q2']) == 'REGRESSED(2): q1, q2'
    # up to 6 names the full verdict lists them all; the fit tier
    # still names the first two
    six = [f'q{i}' for i in range(6)]
    assert _fit_verdict(six) == 'REGRESSED(6): q0, q1,..'
    # over 6 the full verdict truncates with ', ...'; the fit tier
    # counts every regression and never parses that rendering
    nine = [f'q{i}' for i in range(9)]
    assert _fit_verdict(nine) == 'REGRESSED(9): q0, q1,..'
