"""The benchmark's generator: same seed, same bytes; probe MED clocks."""

import model

SMALL = model.Scale(v4=600, v6=40, vpn=40, dump=120)


def _churn(seed):
    rib = model.Rib(1, SMALL)
    return model.make_churn(rib, seed, rate=200.0, seconds=2.0, probe_every=0.1)


def test_same_seed_same_bytes():
    a, b = model.Rib(1, SMALL), model.Rib(1, SMALL)
    assert a.dump_messages() == b.dump_messages()
    assert [e for e in a.history_events()] == [e for e in b.history_events()]
    ca, cb = _churn(7), _churn(7)
    assert ca.schedule == cb.schedule
    assert ca.final == cb.final
    ga, gb = model.QueryGen(a, 7, 0), model.QueryGen(b, 7, 0)
    assert [ga.next().path() for _ in range(50)] == [gb.next().path() for _ in range(50)]


def test_other_seed_other_stream():
    assert _churn(7).schedule != _churn(8).schedule
    rib = model.Rib(1, SMALL)
    ga, gb = model.QueryGen(rib, 7, 0), model.QueryGen(rib, 8, 0)
    assert [ga.next().path() for _ in range(50)] != [gb.next().path() for _ in range(50)]


def test_med_timestamp_round_trips():
    epoch = 1_790_000_000.125
    for off in (0.0, 0.1, 12.3456, 3600.0 * 24 * 40):
        med = model.med_encode(epoch + off, epoch)
        assert 0 <= med < 1 << 32
        assert abs(model.med_decode(med, epoch) - (epoch + off)) <= 0.0005


def test_probe_med_is_its_scheduled_offset():
    from bgpexplorer_spark.sources.mrt import parse_bgp_update
    import datetime as dt

    churn = _churn(3)
    probes = [(t, m, k) for t, m, k in churn.schedule if k >= 0]
    assert len(probes) == len(churn.probe_offsets) == 20
    for t, msg, k in probes:
        rows = list(parse_bgp_update(msg[19:], 0, len(msg) - 19,
                                     dt.datetime(2026, 1, 1), "192.0.2.1", 64501))
        assert len(rows) == 1
        assert rows[0]["addr_v4"] == model.probe_prefix(k)[0]
        assert model.med_decode(rows[0]["med"], 0.0) == round(t, 3)
