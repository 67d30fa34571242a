package graft.functions

import java.time.{LocalDate, ZoneOffset}

/** GPS frame-timestamp codec (SURVEY §2.9 F1): the wire format carries
  * (years-since-2000, day-of-year, h, m, s, ms, µs, ns)
  * (`/root/reference/schemas/frame_metadata_v2.fbs:12-23`); conversion to
  * UTC follows `streaming-types/src/time_conversions.rs:13-56`. Kept in
  * ns-since-epoch longs because TimestampType truncates to µs.
  */
final case class GpsTime(
    year: Int, // years since 2000
    day: Int, // day of year, 1-366
    hour: Int,
    minute: Int,
    second: Int,
    millisecond: Int,
    microsecond: Int,
    nanosecond: Int)

object TimeFunctions {

  /** GpsTime → ns since Unix epoch (UTC). Throws on out-of-range
    * components like the reference's TryFrom.
    */
  def gpsToEpochNs(t: GpsTime): Long = {
    require(t.nanosecond <= 999 && t.microsecond <= 999 && t.millisecond <= 999,
      s"GpsTime component(s) out of range: $t")
    // u8 carries 0-255: an out-of-range hour/minute/second must REJECT
    // like the reference's and_hms_nano_opt (a corrupt buffer rolling
    // hour=25 into the next day would land the frame under a wrong key
    // and re-encode to different bytes)
    require(t.hour <= 23 && t.minute <= 59 && t.second <= 59,
      s"GpsTime h/m/s out of range: $t")
    val date = LocalDate.ofYearDay(2000 + t.year, t.day)
    val epochSec = date.atStartOfDay(ZoneOffset.UTC).toEpochSecond +
      t.hour * 3600L + t.minute * 60L + t.second
    epochSec * 1000000000L +
      t.millisecond * 1000000L + t.microsecond * 1000L + t.nanosecond
  }

  /** ns since epoch → GpsTime (inverse, `time_conversions.rs:44-56`). */
  def epochNsToGps(ns: Long): GpsTime = {
    val epochSec = Math.floorDiv(ns, 1000000000L)
    val subNs = Math.floorMod(ns, 1000000000L)
    val dt = java.time.Instant.ofEpochSecond(epochSec).atZone(ZoneOffset.UTC)
    GpsTime(
      year = dt.getYear - 2000,
      day = dt.getDayOfYear,
      hour = dt.getHour,
      minute = dt.getMinute,
      second = dt.getSecond,
      millisecond = (subNs / 1000000L).toInt,
      microsecond = ((subNs % 1000000L) / 1000L).toInt,
      nanosecond = (subNs % 1000L).toInt)
  }

  /** Strip EPICS block prefixes from a log source name (SURVEY §2.3 P9,
    * `nexus-writer/src/nexus/logs/mod.rs:110-112`): everything up to the
    * last `:CS:SB:` marker goes; non-block names pass through.
    */
  def removePrefixes(name: String): String = {
    val marker = ":CS:SB:"
    val idx = name.lastIndexOf(marker)
    if (idx < 0) name else name.substring(idx + marker.length)
  }
}
