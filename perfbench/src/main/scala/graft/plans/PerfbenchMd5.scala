package graft.plans

/** The md5-hex kernel the native text expressions share, exposed to the
  * benchmark's kernel microbench (the kernel itself is package-private). */
object PerfbenchMd5 {
  def hex(bytes: Array[Byte]): String = Md5Kernel.hex32(Md5Kernel.digest().digest(bytes))
}
