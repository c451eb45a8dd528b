"""The payload generator is a pure function of its seed."""

import json

import gen
from model import LakeModel, clean_title


def test_same_seed_gives_byte_identical_payloads(tmp_path):
    a = gen.write_days(gen.generate_days(11, 5), str(tmp_path / "a"))
    b = gen.write_days(gen.generate_days(11, 5), str(tmp_path / "b"))
    for pa, pb in zip(a, b):
        with open(pa, "rb") as fa, open(pb, "rb") as fb:
            assert fa.read() == fb.read()


def test_different_seed_differs():
    a = [d.payload for d in gen.generate_days(11, 3)]
    b = [d.payload for d in gen.generate_days(12, 3)]
    assert all(x != y for x, y in zip(a, b))


def test_prefix_is_stable():
    assert [d.payload for d in gen.generate_days(5, 2)] == [
        d.payload for d in gen.generate_days(5, 6)[:2]
    ]


def test_records_have_the_promised_shape():
    days = gen.generate_days(3, 8)
    assert [len(d.records) for d in days[:4]] == list(gen.SIZE_CYCLE)
    recs = [r for d in days for r in d.records]
    no_end = sum("end" not in r for r in recs) / len(recs)
    assert 0.15 < no_end < 0.25
    lowered = {r["type"].lower() for r in recs}
    assert {"verstoring", "werkzaamheden", "calamiteit", "storing"} <= lowered
    codes = {s["uicCode"] for r in recs for s in r["section"]["stations"]}
    assert codes & set(gen.SEED_CODES) and codes - set(gen.SEED_CODES)
    assert all(1 <= len(r["section"]["stations"]) <= 3 for r in recs)
    assert any("timespans" in r for r in recs)
    for d in days:
        ids = [r.get("id") for r in d.records]
        assert sum(i in (None, "") for i in ids) == d.n_falsy > 0
        keyed = [i for i in ids if i not in (None, "")]
        assert len(keyed) - len(set(keyed)) == d.n_dup_extra > 0
    assert all(0.3 <= d.updated_share <= 0.7 for d in days[1:])


def test_payload_is_the_records_as_json():
    d = gen.generate_days(2, 1)[0]
    assert json.loads(d.payload) == d.records


def test_model_keeps_first_raw_and_latest_clean():
    days = gen.generate_days(4, 3)
    m = LakeModel()
    exps = [m.apply(d.records, d.run_ts) for d in days]
    assert exps[0].raw_total == exps[0].keys_in_batch
    assert exps[1].keys_inserted_raw < exps[1].keys_in_batch  # some ids updated
    first = {r["id"]: r for r in days[0].records if r.get("id")}
    updated = [r for r in days[1].records if r.get("id") in first]
    assert updated
    rid = updated[0]["id"]
    assert json.loads(m.raw[rid])["title"] == first[rid]["title"]
    assert m.clean[rid][0] == clean_title(updated[0]["title"])
    assert m.clean[rid][1] == days[1].run_ts


def test_clean_title_trims_spaces_only():
    assert clean_title("  Geen treinen ") == "Geen treinen"
    assert clean_title(" abc ") is None
    assert clean_title(None) is None
