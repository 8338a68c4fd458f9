package graft.fixtures

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.nio.charset.StandardCharsets

/** Deterministic regeneration of the reference's StreamPro dataset shape
  * (FIXTURES.md; the original events blob is missing from the snapshot).
  * Plants the invariants behind the notebook's golden answers as
  * *relative* properties (FIXTURES.md §4):
  *
  *   - exactly one user (user_78) with ≥30s watch time in their
  *     lexicographically-first session (39.0s);
  *   - exactly 3 users (user_5/23/60) with no positive first-session
  *     watch events → 97/100 users with watch time;
  *   - every user has sessions on days 0-4 → 100% binary retention and
  *     100% day-1 return;
  *   - 20 device_os × app_version combos of exactly 5 users; the
  *     iOS+2.0.1 cohort (user_25/46/48/67/95) has 3/5 = 60% low
  *     (<5s) first-session watch time, every other combo ≤40% → Q3
  *     worst combo is iOS+2.0.1;
  *   - users with i%4==1 watch Comedy in their first session and get the
  *     highest subsequent watch values → Q2 dominant genre is Comedy.
  */
object StreamProFixture {

  val IngestionDate = "2025-09-09"
  val Genres = Seq("Action", "Comedy", "Drama", "Documentary")

  val NoWatchUsers = Set(5, 23, 60)
  val IosCohort = Seq(25, 46, 48, 67, 95) // iOS + 2.0.1
  val IosLowWatch = Set(25, 46, 48)

  /** 20 combos; combo 0 is the planted-bad one. */
  val Combos: Seq[(String, String)] =
    ("iOS", "2.0.1") +: (for {
      os <- Seq("iOS", "Android", "Windows")
      v <- Seq("1.0.6", "1.2.0", "1.5.3", "2.1.0", "2.3.4", "2.8.6", "3.0.0")
    } yield (os, v)).take(19)

  /** user (1-100) → combo index. */
  def comboOf(user: Int): Int =
    if (IosCohort.contains(user)) 0
    else {
      val others = (1 to 100).filterNot(IosCohort.contains)
      1 + others.indexOf(user) / 5
    }

  /** Designated low-watch user per non-iOS combo: its first member
    * (skipping user_78, who must stay ≥30s). */
  def isLowWatch(user: Int): Boolean = {
    if (NoWatchUsers.contains(user)) return true
    if (IosLowWatch.contains(user)) return true
    if (user == 78) return false
    val c = comboOf(user)
    if (c == 0) return false
    val members = (1 to 100).filterNot(IosCohort.contains)
      .grouped(5).toSeq(c - 1)
    members.filterNot(_ == 78).head == user
  }

  def genreIndexOf(user: Int): Int = user % 4

  /** First-session video: genre = Genres(user % 4); videos are laid out
    * so video_(g+1+4k) has genre g. */
  def firstVideoOf(user: Int): Int = genreIndexOf(user) + 1

  def writeLanding(dir: Path): Unit = {
    val landing = dir.resolve("landing")
    Files.createDirectories(landing)

    val tiers = Seq("Free", "Basic", "Premium")
    val ages = Seq("18-25", "26-35", "36-50", "50+")
    val genders = Seq("Male", "Female", "Other")
    val users = (1 to 100).map { i =>
      f"user_$i,2025-03-${(i % 28) + 1}%02d,${tiers(i % 3)},${ages(i % 4)},${genders(i % 3)}"
    }
    write(landing.resolve(s"users_$IngestionDate.csv"),
      "user_id,signup_date,subscription_tier,age_group,gender" +: users)

    val videos = (1 to 20).map { v =>
      val g = Genres((v - 1) % 4)
      s"video_$v,Video Title $v,$g,${78 + v * 37},patent_${(v % 5) + 1}"
    }
    write(landing.resolve(s"videos_$IngestionDate.csv"),
      "video_id,title,genre,duration_seconds,patent_id" +: videos)

    write(landing.resolve(s"devices_$IngestionDate.csv"), Seq(
      "device,os,model,os_version",
      "mobile,iOS,iPhone X,14.6",
      "mobile,Android,Galaxy S20,11",
      "mobile,Android,Pixel 5,12",
      "tablet,iOS,iPad Pro,14.6",
      "tablet,Android,Samsung Tab,10"))

    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    for (i <- 1 to 100) {
      val (os, appVer) = Combos(comboOf(i))
      val video = firstVideoOf(i)
      val comedy = genreIndexOf(i) == 1
      for (day <- 0 to 4; sub <- 0 to 1) {
        val session = s"user_${i}_sess_${day}_$sub"
        val date = f"2025-04-${1 + day}%02d"
        val hour = f"${6 + sub * 6}%02d"
        val first = day == 0 && sub == 0
        var minute = 0
        def emit(name: String, value: Option[Double], vid: Int): Unit = {
          val ts = s"${date}T$hour:${f"$minute%02d"}:00"
          minute += 1
          val v = value.map(x => f"$x%.1f").getOrElse("null")
          events += s"""{"timestamp": "$ts", "account_id": "acct_$i", "video_id": "video_$vid", "user_id": "user_$i", "event_name": "${name}", "value": $v, "device": "${if (i % 5 == 0) "tablet" else "mobile"}", "app_version": "$appVer", "device_os": "$os", "network_type": "${if (i % 2 == 0) "wifi" else "4g"}", "ip": "10.0.${i % 256}.${day * 10 + sub}", "country": "US", "session_id": "$session"}"""
        }
        emit("play", None, video)
        if (first) {
          if (i == 78) (1 to 5).foreach(_ => emit("watch_time", Some(7.8), video))
          else if (NoWatchUsers.contains(i)) emit("pause", None, video)
          else if (isLowWatch(i)) { emit("watch_time", Some(1.0), video); emit("watch_time", Some(1.5), video) }
          else { emit("watch_time", Some(6.0), video); emit("watch_time", Some(7.5), video) }
        } else {
          val v = if (comedy) 9.0 else 3.0
          emit("watch_time", Some(v), video)
          emit("watch_time", Some(v), video)
        }
        emit("stop", None, video)
      }
    }
    write(landing.resolve(s"events_$IngestionDate.jsonl"), events.toSeq)
  }

  /** One event line; `null` fields are JSON nulls. */
  private def event(ts: String, user: String, session: String, name: String,
      value: String, video: String, os: String = "iOS", appVer: String = "2.0.1"): String = {
    def q(v: String) = if (v == null) "null" else s""""$v""""
    s"""{"timestamp": ${q(ts)}, "account_id": "acct_h", "video_id": "$video", "user_id": ${q(user)}, "event_name": "$name", "value": $value, "device": "mobile", "app_version": "$appVer", "device_os": "$os", "network_type": "wifi", "ip": "10.0.0.1", "country": "US", "session_id": ${q(session)}}"""
  }

  /** Hostile users 101–105 (all in trusted_users; the iOS + 2.0.1
    * combo unless noted), each an edge of the per-user session facts:
    *
    *   - events with a null user_id (and a users row with a null id);
    *   - user_1 gains a watch event with a null session_id and an earlier
    *     timestamp, which moves the user's first-session date back a day;
    *   - user_101's only session id is null (no first session);
    *   - user_102's first session has a null timestamp, a null and a
    *     negative watch value; a later session has a null timestamp;
    *   - user_103's timestamps are all null (no first-session date);
    *   - user_104's first session watches only an unknown video, 35s;
    *   - user_105's first session spans two genres and two app versions.
    */
  private val HostileEvents: Seq[String] = Seq(
    event("2025-04-01T06:30:00", null, "ghost_sess_0_0", "watch_time", "50.0", "video_1"),
    event("2025-04-02T06:30:00", null, "ghost_sess_1_0", "watch_time", "2.0", "video_2"),
    event("2025-03-31T23:00:00", "user_1", null, "watch_time", "100.0", "video_2", "Android", "1.0.6"),
    event("2025-04-01T06:00:00", "user_101", null, "play", "null", "video_1"),
    event("2025-04-01T06:01:00", "user_101", null, "watch_time", "12.0", "video_1"),
    event(null, "user_102", "user_102_sess_0_0", "play", "null", "video_1"),
    event("2025-04-01T06:01:00", "user_102", "user_102_sess_0_0", "watch_time", "null", "video_1"),
    event("2025-04-01T06:02:00", "user_102", "user_102_sess_0_0", "watch_time", "-3.0", "video_1"),
    event("2025-04-01T06:03:00", "user_102", "user_102_sess_0_0", "watch_time", "4.0", "video_1"),
    event(null, "user_102", "user_102_sess_1_0", "watch_time", "8.0", "video_5"),
    event("2025-04-02T06:00:00", "user_102", "user_102_sess_1_1", "watch_time", "2.5", "video_5"),
    event(null, "user_103", "user_103_sess_0_0", "watch_time", "6.0", "video_3"),
    event(null, "user_103", "user_103_sess_1_0", "watch_time", "6.0", "video_3"),
    event("2025-04-01T06:00:00", "user_104", "user_104_sess_0_0", "watch_time", "35.0", "video_999"),
    event("2025-04-02T06:00:00", "user_104", "user_104_sess_1_0", "watch_time", "3.0", "video_2"),
    event("2025-04-01T06:00:00", "user_105", "user_105_sess_0_0", "watch_time", "5.0", "video_1"),
    event("2025-04-01T06:01:00", "user_105", "user_105_sess_0_0", "watch_time", "6.0", "video_2", "Android", "1.0.6"),
    event("2025-04-03T06:00:00", "user_105", "user_105_sess_2_0", "watch_time", "1.0", "video_2"))

  /** [[writeLanding]] plus [[HostileEvents]] and their users. */
  def writeHostileLanding(dir: Path): Unit = {
    writeLanding(dir)
    val landing = dir.resolve("landing")
    def append(file: String, lines: Seq[String]): Unit = Files.write(landing.resolve(file),
      lines.mkString("\n", "\n", "").getBytes(StandardCharsets.UTF_8), StandardOpenOption.APPEND)
    append(s"users_$IngestionDate.csv",
      ",2025-03-01,Free,18-25,Male" +: (101 to 105).map(i => s"user_$i,2025-03-01,Free,18-25,Male"))
    append(s"events_$IngestionDate.jsonl", HostileEvents)
  }

  private def write(p: Path, lines: Seq[String]): Unit =
    Files.write(p, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
}
