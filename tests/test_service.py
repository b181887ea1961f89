"""Compat service façade: byte-exact endpoint responses vs the
reference's text_post_handler (main.cpp:304-472) on the readme flow."""

import pytest

from geotile.service import GeoService


@pytest.fixture()
def svc(spark):
    s = GeoService(spark, capacity=1000000)
    # LoadModuleData seeds (LoadModule.cpp:27-35)
    assert s.add("13661201024", 39.928167, 116.389550, 1486447000) == '{"success":"0"}'
    assert s.add("13661201025", 39.928167, 116.389550, 1486447000) == '{"success":"0"}'
    return s


def test_validation_errors(svc):
    assert svc.add("", 1.0, 1.0, 1) == '{"error":"1"}'
    assert svc.add("x", 0.0, 1.0, 1) == '{"error":"1"}'
    assert svc.search(0.0, 116.0, 100.0) == '{"error":"1"}'
    assert svc.delete("") == '{"error":"1"}'
    assert svc.delete("nosuch") == '{"error":"2"}'


def test_readme_flow_byte_exact(svc):
    # readme.md:34-45: Add -> Search -> Delete -> re-Search
    assert svc.add("13412345637", 39.928667, 116.389550, 1486447081) == '{"success":"0"}'
    got = svc.search(39.928367, 116.389550, 100000.0)
    expect = ("{"
              '"Msisdn":"13661201024","Latitude":"39.928167","Longitude":"116.389550","CurrTime":"1486447000",'
              '"Msisdn":"13661201025","Latitude":"39.928167","Longitude":"116.389550","CurrTime":"1486447000",'
              '"Msisdn":"13412345637","Latitude":"39.928667","Longitude":"116.389550","CurrTime":"1486447081"'
              "}")
    assert got == expect
    assert svc.delete("13412345637") == '{"success":"0"}'
    got2 = svc.search(39.928367, 116.389550, 100000.0)
    assert '"Msisdn":"13412345637"' not in got2
    assert got2.startswith("{") and got2.endswith("}")


def test_search_empty_result_is_bare_brace(svc):
    # a valid query with no candidate cells / matches returns retBuf
    # after the loop never ran: the bare "{" (main.cpp:349)
    assert svc.search(-33.856784, 151.215297, 5000.0) == "{"


def test_pool_state_format(svc):
    got = svc.pool()
    assert got == ('{"PoolName":"Pos_Pool","Used":"2","Free":"999998","All":"1000000",'
                   '"PoolName":"Area_Pool","Used":"1","Free":"999999","All":"1000000",'
                   '"PoolName":"PosLink_Pool","Used":"2","Free":"999998","All":"1000000"}')


def test_upsert_migration_via_service(svc):
    assert svc.add("13661201024", 31.230416, 121.473701, 1486448000) == '{"success":"0"}'
    beijing = svc.search(39.928167, 116.389550, 10000.0)
    assert '"Msisdn":"13661201024"' not in beijing
    assert '"Msisdn":"13661201025"' in beijing
    shanghai = svc.search(31.230416, 121.473701, 10000.0)
    assert '"Msisdn":"13661201024"' in shanghai


# -- state: driver row mirror, snapshot per read ---------------------------

def _plan_lines(svc):
    return svc.state._jdf.queryExecution().optimizedPlan().toString().count("\n") + 1


def _order(resp):
    return [seg.split('"')[0] for seg in resp.split('"Msisdn":"')[1:]]


BEIJING = (39.928367, 116.389550, 100000.0)


def test_state_plan_constant_over_mixed_session(svc):
    lines0 = _plan_lines(svc)
    for i in range(40):
        k = f"1390000{i % 7:04d}"
        op = i % 4
        if op == 0:
            svc.add(k, 39.92 + i * 1e-4, 116.38 + i * 1e-4, 1486447000 + i)
        elif op == 1:
            assert svc.search(*BEIJING).startswith("{")
        elif op == 2:
            svc.delete(k)
        else:
            assert '"Used"' in svc.pool()
    assert _plan_lines(svc) == lines0


def test_add_and_delete_run_no_spark_job(spark, svc):
    sc = spark.sparkContext
    sc.setJobGroup("svc-writes", "service writes")
    try:
        svc.add("13900000001", 39.93, 116.39, 1486447100)
        svc.add("13661201024", 39.94, 116.40, 1486447200)
        svc.delete("13900000001")
        svc.delete("nosuch")
        assert list(sc.statusTracker().getJobIdsForGroup("svc-writes")) == []
        svc.search(*BEIJING)  # control: a read does run a job in the group
        assert list(sc.statusTracker().getJobIdsForGroup("svc-writes"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_older_time_add_loses(svc):
    before = svc.search(*BEIJING)
    assert svc.add("13661201024", 31.230416, 121.473701, 1486446999) == '{"success":"0"}'
    assert svc.search(*BEIJING) == before
    assert _order(before) == ["13661201024", "13661201025"]


def test_equal_time_add_wins_and_moves_to_fifo_tail(svc):
    assert svc.add("13661201024", 39.928267, 116.389550, 1486447000) == '{"success":"0"}'
    got = svc.search(*BEIJING)
    assert _order(got) == ["13661201025", "13661201024"]
    assert '"Msisdn":"13661201024","Latitude":"39.928267"' in got


def test_delete_then_readd(svc):
    assert svc.delete("13661201024") == '{"success":"0"}'
    assert svc.delete("13661201024") == '{"error":"2"}'
    assert _order(svc.search(*BEIJING)) == ["13661201025"]
    assert svc.add("13661201024", 39.928167, 116.389550, 1486440000) == '{"success":"0"}'
    assert _order(svc.search(*BEIJING)) == ["13661201025", "13661201024"]
    assert '"Used":"2"' in svc.pool()


def test_empty_service_reads(spark):
    s = GeoService(spark, capacity=10)
    assert s.search(*BEIJING) == "{"
    assert s.pool() == ('{"PoolName":"Pos_Pool","Used":"0","Free":"10","All":"10",'
                        '"PoolName":"Area_Pool","Used":"0","Free":"10","All":"10",'
                        '"PoolName":"PosLink_Pool","Used":"0","Free":"10","All":"10"}')


def test_full_pool_update_existing_key_succeeds(spark):
    # the reference looks the key up before allocating (mapinfo.cpp:109)
    s = GeoService(spark, capacity=2)
    assert s.add("a1", 39.928167, 116.389550, 100) == '{"success":"0"}'
    assert s.add("a2", 39.928167, 116.389550, 100) == '{"success":"0"}'
    assert s.add("a3", 39.928167, 116.389550, 100) == '{"error":"2"}'
    assert s.add("a1", 39.928667, 116.389550, 200) == '{"success":"0"}'
    got = s.search(*BEIJING)
    assert _order(got) == ["a2", "a1"]
    assert '"Msisdn":"a1","Latitude":"39.928667"' in got
    assert '"Used":"2","Free":"0"' in s.pool()


def test_state_schema_and_cells_match_engine(svc):
    from geotile import engine

    svc.add("13900000002", -33.856784, 151.215297, 1486447300)
    st = svc.state
    assert st.columns == ["msisdn", "lat", "lon", "ts", "seq", "geohash"]
    want = engine.with_cell_ref(st.drop("geohash"))
    assert sorted(st.collect()) == sorted(want.collect())
