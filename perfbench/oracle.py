"""Independent oracle for the flagship poll, evaluated in DuckDB.

A port of the DuckDB translation the repository registers for the OMM
stages (`graft.queries.OmmQueries`: snapshot -> parse -> dedup), bound to a
generated table directory instead of the fixtures. `check_poll` compares
one poll's sink rows (all envelope columns, the protobuf `value` decoded
here) and its new/repeated key counts against it.
"""
import duckdb

# The parse stage's allow-lists (graft.omm.OmmSchemas).
DEVIATION_CASES_TYPES = ["CANCEL_DEPARTURE", "DEVIATION_CASES_TYPE_CANCEL_DEPARTURE"]
AFFECTED_DEPARTURES_TYPES = [
    "CANCEL_ENTIRE_DEPARTURE", "CANCEL_STOPS_FROM_START",
    "CANCEL_STOPS_FROM_MIDDLE", "CANCEL_STOPS_FROM_END"]
CATEGORIES = [
    "VEHICLE_BREAKDOWN", "TRAFFIC_ACCIDENT", "ROAD_MAINTENANCE", "WEATHER",
    "STRIKE", "STAFF_DEFICIT", "OTHER_OPERATOR_REASON", "NO_TRAFFIC_DISRUPTION"]
SUB_CATEGORIES = [
    "BREAK_MALFUNCTION", "OUT_OF_FUEL", "ASSAULT", "ROAD_CLOSED",
    "ROAD_TRENCH", "SLIPPERINESS", "STAFF_SHORTAGE", "OTHER"]
AD_STATUSES = ["active", "deleted"]


def _in(vals):
    return "(" + ", ".join(f"'{v}'" for v in vals) + ")"


def snapshot_sql(tables, now, today, lookback, mode="FROM_NOW"):
    t = lambda name: f"read_parquet('{tables}/{name}.parquet/*.parquet')"
    current = (f"(DC.valid_to::TIMESTAMP > TIMESTAMP '{now}'"
               f" OR (DC.valid_to IS NULL AND AD.status = 'deleted'"
               f" AND DVJ.OperatingDayDate >= DATE '{today}'))")
    if mode == "FROM_NOW":
        validity = current
    else:
        validity = (f"({current} OR ((DC.valid_to::TIMESTAMP <= TIMESTAMP '{now}'"
                    f" OR (DC.valid_to IS NULL AND AD.status = 'deleted'"
                    f" AND DVJ.OperatingDayDate < DATE '{today}'))"
                    f" AND DC.last_modified::TIMESTAMP >= TIMESTAMP '{lookback}'))")
    mins = ("((epoch_ms(DVJ.PlannedStartOffsetDateTime::TIMESTAMP) - "
            "epoch_ms(TIMESTAMP '1900-01-01')) // 60000)")
    return f"""SELECT
  DC.deviation_case_id,
  strftime(DC.valid_from::TIMESTAMP, '%Y-%m-%d %H:%M:%S') AS valid_from,
  strftime(DC.valid_to::TIMESTAMP, '%Y-%m-%d %H:%M:%S') AS valid_to,
  DC.type AS dc_type,
  strftime(DC.last_modified::TIMESTAMP, '%Y-%m-%d %H:%M:%S') AS dc_last_modified,
  strftime(AD.last_modified::TIMESTAMP, '%Y-%m-%d %H:%M:%S') AS ad_last_modified,
  AD.status AS ad_status, AD.type AS ad_type,
  BLM.title AS title, BLM.description AS description,
  B.category AS category, B.sub_category AS sub_category,
  CAST(DVJ.Id AS VARCHAR) AS dvj_id,
  KVV.StringValue AS route_name,
  CAST(substring(VJT.IsWorkedOnDirectionOfLineGid, 12, 1) AS INTEGER) AS direction,
  strftime(DVJ.OperatingDayDate, '%Y%m%d') AS operating_day,
  lpad(CAST({mins} // 60 AS VARCHAR), 2, '0') || ':' ||
    lpad(CAST({mins} % 60 AS VARCHAR), 2, '0') || ':00' AS start_time
FROM {t('deviation_cases')} AS DC
LEFT JOIN {t('affected_departures')} AS AD
  ON DC.deviation_case_id = AD.deviation_case_id
LEFT JOIN {t('bulletin_localized_messages')} AS BLM
  ON DC.bulletin_id = BLM.bulletins_id
LEFT JOIN {t('bulletins')} AS B ON DC.bulletin_id = B.bulletins_id
JOIN {t('DatedVehicleJourney')} AS DVJ ON DVJ.Id = AD.departure_id
JOIN {t('VehicleJourney')} AS VJ ON VJ.Id = DVJ.IsBasedOnVehicleJourneyId
JOIN {t('VehicleJourneyTemplate')} AS VJT
  ON VJT.Id = DVJ.IsBasedOnVehicleJourneyTemplateId
JOIN {t('KeyVariantValue')} AS KVV ON KVV.IsForObjectId = VJ.Id
JOIN {t('KeyVariantType')} AS KVT ON KVT.Id = KVV.IsOfKeyVariantTypeId
JOIN {t('KeyType')} AS KT ON KT.Id = KVT.IsForKeyTypeId
JOIN {t('ObjectType')} AS OT ON OT.Number = KT.ExtendsObjectTypeNumber
WHERE BLM.language_code = 'fi'
  AND {validity}
  AND KT.Name IN ('JoreIdentity', 'JoreRouteIdentity', 'RouteName')
  AND OT.Name = 'VehicleJourney'
  AND VJT.IsWorkedOnDirectionOfLineGid IS NOT NULL
  AND DVJ.IsReplacedById IS NULL"""


def dedup_sql(tables, now, today, lookback, zone, mode="FROM_NOW"):
    """snapshot -> parse -> priority dedup, one row per (trip, case)."""
    event_ms = f"epoch_ms(timezone('{zone}', ad_last_modified::TIMESTAMP))"
    checks = [
        f"dc_type IN {_in(DEVIATION_CASES_TYPES)}",
        f"ad_type IN {_in(AFFECTED_DEPARTURES_TYPES)}",
        f"category IN {_in(CATEGORIES)}",
        f"sub_category IN {_in(SUB_CATEGORIES)}",
        f"(ad_status IS NULL OR lower(ad_status) IN {_in(AD_STATUSES)})",
        f"{event_ms} IS NOT NULL"]
    return f"""WITH snap AS ({snapshot_sql(tables, now, today, lookback, mode)}),
parsed AS (
  SELECT dvj_id AS trip_id, deviation_case_id,
    CASE WHEN lower(ad_status) = 'deleted' THEN 'RUNNING'
         ELSE 'CANCELED' END AS status,
    {event_ms} AS event_ts_ms,
    route_name, direction, operating_day, start_time, title,
    description, category, sub_category, dc_type, ad_type
  FROM snap WHERE {' AND '.join(checks)})
SELECT * EXCLUDE (rn) FROM (
  SELECT *, row_number() OVER (
    PARTITION BY trip_id, deviation_case_id
    ORDER BY (CASE WHEN status = 'CANCELED' THEN 0 ELSE 1 END),
             event_ts_ms DESC, route_name, title) AS rn
  FROM parsed) WHERE rn = 1"""


PAYLOAD = ["deviation_case_id", "route_id", "direction_id", "start_date",
           "start_time", "status", "schema_version", "trip_id",
           "deviation_cases_type", "affected_departures_type", "title",
           "description", "category", "sub_category"]
_VARINT = {1, 3, 6, 7}
_STATUS = {1: "RUNNING", 2: "CANCELED"}


def _varint(buf, i):
    shift = out = 0
    while True:
        b = buf[i]
        out |= (b & 0x7F) << shift
        i += 1
        if b < 0x80:
            return out, i
        shift += 7


def decode_trip_cancellation(buf):
    """Decodes `TripCancellation` wire bytes (src/main/protobuf) into a
    tuple in PAYLOAD order; absent fields are None."""
    out = [None] * len(PAYLOAD)
    i = 0
    while i < len(buf):
        tag, i = _varint(buf, i)
        field, wire = tag >> 3, tag & 7
        if wire == 0:
            v, i = _varint(buf, i)
            if field == 6:
                v = _STATUS.get(v, v)
            elif v >= 1 << 63:
                v -= 1 << 64
        elif wire == 2:
            n, i = _varint(buf, i)
            v, i = bytes(buf[i:i + n]).decode("utf-8"), i + n
        else:
            raise ValueError(f"unexpected wire type {wire}")
        if 1 <= field <= len(PAYLOAD):
            if field in _VARINT and wire != 0 or field not in _VARINT and wire != 2:
                raise ValueError(f"field {field} has wire type {wire}")
            out[field - 1] = v
    return tuple(out)


_EXPECTED = """SELECT trip_id AS key, event_ts_ms AS event_time_ms,
  trip_id AS prop_dvj_id, 'TripCancellation' AS prop_schema,
  deviation_case_id, route_name AS route_id, direction AS direction_id,
  operating_day AS start_date, start_time, status,
  CAST(1 AS INTEGER) AS schema_version, trip_id,
  dc_type AS deviation_cases_type, ad_type AS affected_departures_type,
  title, description, category, sub_category FROM expected"""

_GOT = """SELECT key, event_time_ms,
  map_extract(properties, 'dvj-id')[1] AS prop_dvj_id,
  map_extract(properties, 'protobuf-schema')[1] AS prop_schema,
  payload.deviation_case_id, payload.route_id, payload.direction_id,
  payload.start_date, payload.start_time, payload.status,
  payload.schema_version, payload.trip_id, payload.deviation_cases_type,
  payload.affected_departures_type, payload.title, payload.description,
  payload.category, payload.sub_category FROM got"""


def connect(temp_dir=None, threads=None):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    if temp_dir:
        con.execute(f"SET temp_directory = '{temp_dir}'")
    if threads:
        con.execute(f"SET threads = {int(threads)}")
    return con


def check_poll(con, poll, tables, prev, sink, zone, lookback):
    """Mismatches between one poll and the oracle, as a list of strings.

    `poll` carries the program's `now`, `sent`, `new_keys` and
    `repeated_keys`; `prev` is (tables, now) of the poll before it, or
    None for a first poll."""
    now = poll["now"]
    today = now[:10]
    con.execute("CREATE OR REPLACE TEMP TABLE expected AS " + dedup_sql(
        tables, now, today, lookback(now), zone))
    con.execute(
        "CREATE OR REPLACE TEMP TABLE got AS SELECT * FROM "
        f"read_parquet('{sink}/*.parquet') WHERE poll_time = ?", [now])
    problems = []
    for label, a, b in (("missing from sink", _EXPECTED, _GOT),
                        ("unexpected in sink", _GOT, _EXPECTED)):
        n = con.execute(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
        if n:
            problems.append(f"{n} rows {label}")
    n_exp = con.execute("SELECT count(*) FROM expected").fetchone()[0]
    if poll["sent"] != n_exp:
        problems.append(f"sent {poll['sent']} != oracle {n_exp}")
    bad = 0
    cur = con.execute(
        "SELECT value, deviation_case_id, route_id, direction_id, start_date,"
        " start_time, status, schema_version, trip_id, deviation_cases_type,"
        " affected_departures_type, title, description, category, sub_category"
        " FROM (SELECT value, payload.* FROM got)")
    while True:
        rows = cur.fetchmany(10000)
        if not rows:
            break
        for r in rows:
            if decode_trip_cancellation(r[0]) != tuple(r[1:]):
                bad += 1
    if bad:
        problems.append(f"{bad} protobuf values differ from their payload")
    if prev is None:
        exp_new = con.execute(
            "SELECT count(DISTINCT trip_id) FROM expected").fetchone()[0]
        exp_rep = 0
    else:
        p_tables, p_now = prev
        con.execute("CREATE OR REPLACE TEMP TABLE prev_keys AS SELECT DISTINCT "
                    "trip_id FROM (" + dedup_sql(
                        p_tables, p_now, p_now[:10], lookback(p_now), zone)
                    + ")")
        exp_new, exp_rep = con.execute(
            "SELECT count(*) FILTER (WHERE p.trip_id IS NULL),"
            " count(*) FILTER (WHERE p.trip_id IS NOT NULL)"
            " FROM (SELECT DISTINCT trip_id FROM expected) c"
            " LEFT JOIN prev_keys p USING (trip_id)").fetchone()
    if (poll["new_keys"], poll["repeated_keys"]) != (exp_new, exp_rep):
        problems.append(
            f"new/repeated {poll['new_keys']}/{poll['repeated_keys']} != "
            f"oracle {exp_new}/{exp_rep}")
    return problems
