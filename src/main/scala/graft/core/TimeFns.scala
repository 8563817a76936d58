package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Time-axis conversions the reference does with astropy.
  *
  * The reference stores exposure start times as MJD doubles and converts
  * with `astropy.time.Time(..., format='mjd')` (reference:
  * cosmo/monitors/acq_monitors.py:533, cosmo/monitor_helpers.py:52–76)
  * and parses SMS `yyyy.DDD:HH:mm:ss` day-of-year stamps (reference:
  * cosmo/monitor_helpers.py:15–25, cosmo/sms/ingest_sms.py:28).
  *
  * All of these are pure column expressions — they stay inside
  * whole-stage codegen and never leave the executor.
  */
object TimeFns {
  /** MJD of the Unix epoch, 1970-01-01T00:00:00 UTC. */
  val MjdUnixEpoch = 40587.0d

  /** MJD (float days, UTC) -> TimestampType. */
  def mjdToTs(mjd: Column): Column =
    timestamp_seconds((mjd - lit(MjdUnixEpoch)) * lit(86400.0d))

  /** TimestampType -> MJD double (micros-exact). */
  def tsToMjd(ts: Column): Column =
    unix_micros(ts) / lit(1.0e6d) / lit(86400.0d) + lit(MjdUnixEpoch)

  /** Besselian epoch year from MJD — the fit x-axis the reference uses
    * (`Time(...).byear`, reference: cosmo/monitors/acq_monitors.py:241).
    * B = 1900.0 + (JD − 2415020.31352) / 365.242198781, JD = MJD + 2400000.5.
    */
  def besselianYear(mjd: Column): Column =
    lit(1900.0d) + (mjd + lit(2400000.5d) - lit(2415020.31352d)) / lit(365.242198781d)

  /** Day-of-year stamp `yyyy.DDD:HH:mm:ss` -> timestamp
    * (reference: cosmo/monitor_helpers.py:15–25). */
  def doyToTs(s: Column): Column =
    to_timestamp(regexp_replace(s, "\\.", ":"), "yyyy:DDD:HH:mm:ss")
}
