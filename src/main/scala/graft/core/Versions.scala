package graft.core

/** Optimistic-concurrency version algebra.
  *
  * Behavioral spec: `crates/sierradb-protocol/src/lib.rs:14-137` and the
  * truth-table tests at `crates/sierradb/src/database.rs:988-1049`.
  * `ExpectedVersion` is the caller's precondition on a stream's head
  * version; `CurrentVersion` is the stored head; `VersionGap` classifies
  * the mismatch (None = satisfied).
  */
sealed trait ExpectedVersion {

  /** Gap between this expectation and the stored head. */
  def gapFrom(current: CurrentVersion): VersionGap = (this, current) match {
    case (ExpectedVersion.Any, _)                             => VersionGap.None
    case (ExpectedVersion.Exists, CurrentVersion.Empty)       => VersionGap.Incompatible
    case (ExpectedVersion.Exists, CurrentVersion.Current(_))  => VersionGap.None
    case (ExpectedVersion.Empty, CurrentVersion.Empty)        => VersionGap.None
    case (ExpectedVersion.Empty, CurrentVersion.Current(n))   => VersionGap.Ahead(n + 1)
    case (ExpectedVersion.Exact(e), CurrentVersion.Empty)     => VersionGap.Behind(e + 1)
    case (ExpectedVersion.Exact(e), CurrentVersion.Current(c)) =>
      if (e == c) VersionGap.None
      else if (e > c) VersionGap.Behind(e - c)
      else VersionGap.Ahead(c - e)
  }

  def isSatisfiedBy(current: CurrentVersion): Boolean =
    gapFrom(current) == VersionGap.None

  /** Strict-concurrency mode rejects Any/Exists (`eappend.rs:180-187`). */
  def isStrictAllowed: Boolean = this match {
    case ExpectedVersion.Empty | ExpectedVersion.Exact(_) => true
    case _                                                => false
  }
}

object ExpectedVersion {
  /** Accept any state. */
  case object Any extends ExpectedVersion
  /** Stream must have at least one event. */
  case object Exists extends ExpectedVersion
  /** Stream must have no events yet. */
  case object Empty extends ExpectedVersion
  /** Stream head must be exactly at this version. */
  final case class Exact(version: Long) extends ExpectedVersion

  def parse(s: String): Either[String, ExpectedVersion] = s match {
    case "any"    => Right(Any)
    case "exists" => Right(Exists)
    case "empty"  => Right(Empty)
    case num =>
      num.toLongOption.filter(_ >= 0)
        .toRight(s"invalid expected version: $s").map(Exact(_))
  }
}

sealed trait CurrentVersion {
  def next: Long = this match {
    case CurrentVersion.Current(v) => v + 1
    case CurrentVersion.Empty      => 0L
  }
}

object CurrentVersion {
  /** Stream/partition does not exist. */
  case object Empty extends CurrentVersion
  /** Head version/sequence. */
  final case class Current(version: Long) extends CurrentVersion

  def fromOption(v: Option[Long]): CurrentVersion =
    v.fold[CurrentVersion](Empty)(Current(_))
}

sealed trait VersionGap
object VersionGap {
  /** Expectation satisfied. */
  case object None extends VersionGap
  /** Stored state is ahead of expectation by n versions (conflict). */
  final case class Ahead(n: Long) extends VersionGap
  /** Expectation is ahead of stored state by n versions (conflict). */
  final case class Behind(n: Long) extends VersionGap
  /** Expectation can never be satisfied (e.g. Exists on empty). */
  case object Incompatible extends VersionGap
}

/** Stream-id validation (`crates/sierradb/src/lib.rs:26,36-50`):
  * UTF-8, length 1-64 bytes, no NUL.
  */
object StreamId {
  val MaxLength = 64

  def validate(id: String): Either[String, String] = {
    val bytes = id.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (bytes.isEmpty) Left("stream id must not be empty")
    else if (bytes.length > MaxLength) Left(s"stream id exceeds $MaxLength bytes")
    else if (id.exists(_ == '\u0000')) Left("stream id must not contain NUL")
    else Right(id)
  }

  def isValid(id: String): Boolean = validate(id).isRight
}
