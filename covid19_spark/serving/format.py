"""Presentation layer: alert/summary text assembly, golden-tested against the
reference's test strings (SURVEY §5, FIXTURES.md §8).

This is driver-side Python over collected query results — deliberately NOT a
Spark operator (the reference's ``BotUtils``/``DistrictAlertUtils`` are
presentation, SURVEY §2.8). The engine produces the numbers; these functions
produce the exact reference strings, including the quirky bits: empty-string
→ ``?``, null → ``N/A`` (``BotUtils.java:223-226``), singular/plural forms,
and the "Total" row repositioning.

Rows are plain dicts with the reference's StatewiseDelta field names
(delta_confirmed, current_confirmed, ...).
"""

from __future__ import annotations

from datetime import datetime

# Utils.java:40-82
STATE_CODES = {
    "Total": "Total", "Andhra Pradesh": "AP", "Arunachal Pradesh": "AR",
    "Assam": "Assam", "Bihar": "Bihar", "Chhattisgarh": "CT", "Goa": "Goa",
    "Gujarat": "Guja", "Haryana": "HR", "Himachal Pradesh": "HP",
    "Jharkhand": "JH", "Karnataka": "KA", "Kerala": "Ker",
    "Madhya Pradesh": "MP", "Maharashtra": "Mah", "Manipur": "Mani",
    "Meghalaya": "Megh", "Mizoram": "Mizo", "Nagaland": "Naga",
    "Odisha": "Odis", "Punjab": "Punj", "Rajasthan": "Raj", "Sikkim": "Sikk",
    "Tamil Nadu": "TN", "Telangana": "Telg", "Tripura": "Trip",
    "Uttarakhand": "UT", "Uttar Pradesh": "UP", "West Bengal": "WB",
    "Andaman and Nicobar Islands": "A&N", "Chandigarh": "CH",
    "Dadra and Nagar Haveli": "DNH", "Daman and Diu": "DD", "Delhi": "Delhi",
    "Jammu and Kashmir": "J&K", "Ladakh": "LDK", "Lakshadweep": "LDWP",
    "Puducherry": "Pudu", "State Unassigned": "Unass",
}


def _state_code(stat: dict) -> str:
    """Short table label of ``stat["state"]``; "None" for a name outside
    ``STATE_CODES`` (or no name at all)."""
    return STATE_CODES.get(stat.get("state", ""), "None")


def friendly_time(last_updated: str) -> str | None:
    """``d/MM/yyyy HH:mm:ss`` → ``MMMM dd, hh:mm a`` (``Utils.java:30-38``);
    tolerates 1- or 2-digit day; None on parse failure."""
    for fmt in ("%d/%m/%Y %H:%M:%S",):
        try:
            dt = datetime.strptime(last_updated, fmt)
            return dt.strftime("%B %d, %I:%M %p")
        except ValueError:
            continue
    return None


def _counts_line(parts: list[tuple[int, str, str]]) -> str:
    """Shared singular/plural measure-line builder
    (``BotUtils.buildDeltaAlertLine:252-283`` /
    ``DistrictAlertUtils.buildDistrictDeltaAlertLine:24-53``): cases, then
    deaths, then recoveries — only positive measures, comma-separated."""
    out = ""
    for value, singular, plural in parts:
        if value > 0:
            out += ("" if not out else ", ") + f"{value} {singular if value == 1 else plural}"
    return out


def build_delta_alert_line(delta: dict) -> str:
    """``'15 new cases, 9 recoveries in Maharashtra\\n'``; Total skipped."""
    if str(delta.get("state", "")).lower() == "total":
        return ""
    line = _counts_line(
        [
            (int(delta.get("delta_confirmed") or 0), "new case", "new cases"),
            (int(delta.get("delta_deaths") or 0), "death", "deaths"),
            (int(delta.get("delta_recovered") or 0), "recovery", "recoveries"),
        ]
    )
    return f"{line} in {delta['state']}\n" if line else ""


def build_district_delta_alert_line(delta: dict) -> str:
    line = _counts_line(
        [
            (int(delta.get("delta_confirmed") or 0), "new case", "new cases"),
            (int(delta.get("delta_deceased") or 0), "death", "deaths"),
            (int(delta.get("delta_recovered") or 0), "recovery", "recoveries"),
        ]
    )
    return f"{line} in {delta['district']}\n" if line else ""


def is_relevant_district_delta(deltas: list[dict]) -> bool:
    """Any nonzero delta (``BotUtils.java:175-177``) — the filter that drops
    the zero-delta Nagpur row in the golden test."""
    return any(
        int(d.get("delta_confirmed") or 0) > 0
        or int(d.get("delta_recovered") or 0) > 0
        or int(d.get("delta_deceased") or 0) > 0
        for d in deltas
    )


def calculate_positivity_rate(test_data: dict) -> str:
    """100·positive/tested, DecimalFormat("0.00"); '0' on empty
    (``BotUtils.java:241-247``)."""
    positive, tested = test_data.get("positive", ""), test_data.get("totaltested", "")
    if positive == "" or tested == "":
        return "0"
    return f"{100.0 * int(positive) / int(tested):.2f}"


def build_summary_alert_block(
    deltas: list[dict],
    dailies: list[dict],
    testing: dict[str, dict],
    doubling_rates: dict[str, str],
    districts_data: dict[str, list[dict]],
) -> str:
    """Per-state summary block (``BotUtils.buildSummaryAlertBlock:190-239``).

    deltas/dailies are positionally zipped like the reference's ``Utils.zip``
    (length mismatch raises — SURVEY §7.5.4 keeps the assertion).
    """
    if len(deltas) != len(dailies):
        raise ValueError("deltas and dailies must align positionally (Utils.zip)")
    text = ""
    for delta, daily in zip(deltas, dailies):
        cur_c = int(delta.get("current_confirmed") or 0)
        cur_r = int(delta.get("current_recovered") or 0)
        cur_d = int(delta.get("current_deaths") or 0)
        d_c = int(daily.get("delta_confirmed") or 0)
        d_r = int(daily.get("delta_recovered") or 0)
        d_d = int(daily.get("delta_deaths") or 0)
        text += (
            f"\n<b>{delta['state']}</b>\n<pre>\n"
            f"Total cases  : (↑{d_c}) {cur_c}\n"
            f"Active       : (↑{d_c - d_r - d_d}) {cur_c - cur_r - cur_d}\n"
            f"Recovered    : (↑{d_r}) {cur_r}\n"
            f"Deaths       : (↑{d_d}) {cur_d}\n"
            f"Doubling rate: {doubling_rates.get(delta['state'])} days\n"
            "</pre>"
        )
        state = delta["state"]
        if testing and state in testing:
            td = testing[state]
            reported = td.get("testreportedtoday", "")
            pos_today = td.get("positivereportedtoday", "")
            negative = td.get("negative")
            unconfirmed = td.get("unconfirmed")
            text += (
                "\n<pre>"
                f"Total tested   : (↑{'?' if reported == '' else reported}) {td.get('totaltested', '')}\n"
                f"Positive       : (↑{'?' if pos_today == '' else pos_today}) {td.get('positive', '')}\n"
                f"Negative       : {'N/A' if negative is None else negative}\n"
                f"Unconfirmed    : {'N/A' if unconfirmed is None else unconfirmed}\n"
                f"Positivity rate: {calculate_positivity_rate(td)}%\n"
                f"Last updated   : {td.get('updatedon', '')}\n"
                "</pre>\n"
            )
        districts = districts_data.get(state, [])
        if is_relevant_district_delta(districts):
            text += "<b>District-wise breakup (today)</b>\n"
        for district in districts:
            text += build_district_delta_alert_line(district)
    return text


def build_statewise_alert_text(
    last_updated: str,
    deltas: list[dict],
    dailies: list[dict],
    testing: dict[str, dict],
    doubling_rates: dict[str, str],
    district_deltas: list[dict],
) -> str:
    """Full alert (``BotUtils.buildStatewiseAlertText:157-173``)."""
    text = "".join(build_delta_alert_line(d) for d in deltas)
    if is_relevant_district_delta(district_deltas):
        text += "\n<b>District-wise breakup</b>\n"
    for d in district_deltas:
        text += build_district_delta_alert_line(d)
    if text in ("", "\n"):
        return ""
    text += build_summary_alert_block(deltas, dailies, testing, doubling_rates, {})
    return f"<i>{last_updated}</i>\n\n{text}"


def build_districtwise_alert(deltas: list[dict], dailies: list[dict]) -> str:
    """``DistrictAlertUtils.buildDistrictwiseAlert:12-22``."""
    text = "".join(build_district_delta_alert_line(d) for d in deltas)
    return "" if text in ("", "\n") else text


def build_state_summary_alert_text(
    sorted_stats: list[dict], last_updated: str, daily: bool
) -> str:
    """Fixed-width state summary table (``BotUtils.java:286-321``): Total
    repositioned last, zero rows skipped, 5/7/7/6-char columns."""
    total: dict = {}
    text = f"<i>{friendly_time(last_updated)}</i>\n\n"
    text += "Summary of all affected Indian States\n\n<pre>\n"
    text += "State|   Conf|   Rec.|  Died\n"
    text += "----------------------------\n"
    for stat in sorted_stats:
        if str(stat.get("state", "")).lower() == "total":
            total = stat
            continue
        d_c, d_r, d_d = (
            int(stat.get("delta_confirmed") or 0),
            int(stat.get("delta_recovered") or 0),
            int(stat.get("delta_deaths") or 0),
        )
        c_c, c_r, c_d = (
            int(stat.get("current_confirmed") or 0),
            int(stat.get("current_recovered") or 0),
            int(stat.get("current_deaths") or 0),
        )
        if daily and d_c == 0 and d_r == 0 and d_d == 0:
            continue
        if not daily and c_c < 1 and c_r < 1 and c_d < 1:
            continue
        vals = (d_c, d_r, d_d) if daily else (c_c, c_r, c_d)
        text += f"{_state_code(stat):<5}|{vals[0]:>7}|{vals[1]:>7}|{vals[2]:>6}\n"
    text += "----------------------------\n"
    tvals = (
        (
            int(total.get("delta_confirmed") or 0),
            int(total.get("delta_recovered") or 0),
            int(total.get("delta_deaths") or 0),
        )
        if daily
        else (
            int(total.get("current_confirmed") or 0),
            int(total.get("current_recovered") or 0),
            int(total.get("current_deaths") or 0),
        )
    )
    text += f"{_state_code(total):<5}|{tvals[0]:>7}|{tvals[1]:>7}|{tvals[2]:>6}\n</pre>"
    return text


def build_district_summary_alert_text(state: str, districts: list[dict]) -> str:
    """``BotUtils.buildDistrictSummaryAlertText:324-337``: district names
    truncated to 13 chars (W6)."""
    text = f"Summary of all districts of {state}\n\n<pre>\n"
    text += "District     |  Conf|  Rec.| Died\n"
    text += "---------------------------------\n"
    for d in districts:
        name = str(d["district"])[:13]
        text += f"{name:<13}|{d.get('confirmed', ''):>6}|{d.get('recovered', ''):>6}|{d.get('deceased', ''):>5}\n"
    text += "---------------------------------\n</pre>"
    return text


def zone_smiley(zone: str) -> str:
    """Zone → emoji (``BotUtils.java:387-403``)."""
    z = (zone or "").upper()
    return {"GREEN": "\U0001f49a", "RED": "\U0001f534", "ORANGE": "\U0001f536"}.get(
        z, "❓"
    )


def build_district_zone_text(state: str, district_zones: dict[str, str]) -> str:
    """``BotUtils.buildDistrictZoneText:378-386``. The reference iterates a
    HashMap (JVM hash order); callers here pass an explicitly ordered dict —
    order is presentation input, not engine semantics."""
    text = f"<b>Districts of {state}</b>\n\n"
    for district, zone in district_zones.items():
        text += f"{zone_smiley(zone)}   {district}\n"
    return text + "\nhttps://twitter.com/pib_india/status/1256468081896878080"
